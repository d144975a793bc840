"""Scheduled refresh run — SURVEY §3.2 (`process/oireachtas_refresh_inputs.py`
+ the reference's workflow loop) executed end-to-end over this engine:

    python -m eirepolitic_data_pipeline_spark.jobs.run_refresh \
        --refresh-type weekly --as-of 2026-08-13 --batch-id w33 \
        --raw-root /data/raw --warehouse /data/warehouse

One run: normalize the cadence inputs (table list in silver→gold
dependency order, overlap window, control tables forced last), build the
tables into ONE candidate batch via ``jobs.build_table``, emit the three
control tables FROM the run itself (pipeline-run rows, per-table
manifests, DQ results — the reference's run machinery outputs), and
promote the whole batch once when every table succeeded.

The tables build as a dependency DAG: a gold table waits for the inputs
it declares in ``GOLD_BUILDERS`` that this run also builds, and tables
whose inputs are done build at the same time on ``DAG_WIDTH`` driver
threads sharing the one session, so one table's planning, Py4J calls and
catalog I/O overlap another's execution. The control rows are emitted in
the declared table order whatever order the builds finished in.

A table failure is recorded (status=failed + error message in
control_pipeline_runs) and the run continues — the reference's per-table
isolation. A table whose input failed in this run is recorded failed
("input X failed") without being built: building it would silently read
the production copy of that input. A run with any failure is NOT
promoted: production never points at a partially-built snapshot.
"""

from __future__ import annotations

import argparse
import json
import os
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from dataclasses import dataclass, field
from datetime import date, datetime, timezone
from typing import Optional, Sequence

from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target

from ..io.catalog import BatchCatalog, CatalogError
from ..io.writers import MergeWriter
from ..plans.default_tables import DEFAULT_TABLES_CONFIG
from ..plans.registry import TableRegistry
from ..tables.silver import stable_hash_py
from .build_table import GOLD_BUILDERS, BuildResult, DQGateError, build_table
from .refresh import normalize_refresh_inputs

CONTROL_TABLES = ("control_pipeline_runs", "control_table_manifests",
                  "control_data_quality_results")

#: driver threads building ready tables at the same time (and writing the
#: three control tables at once). The cycle is bound by the driver's
#: per-query work, so a few builds in flight fill the executors' idle
#: slots; more only queue on the driver.
DAG_WIDTH = 3


@dataclass
class RefreshRunResult:
    refresh_type: str
    batch_id: str
    built: dict[str, int] = field(default_factory=dict)   # table → committed rows
    failed: dict[str, str] = field(default_factory=dict)  # table → error
    promoted: bool = False


@dataclass
class _TableRun:
    """One data table's outcome and its share of the control tables."""
    run_row: dict
    dq_rows: list[dict] = field(default_factory=list)
    manifest_row: Optional[dict] = None
    rows: int = 0      # committed rows, when built
    error: str = ""    # RefreshRunResult.failed entry, when failed


def _utc_now() -> str:
    return datetime.now(timezone.utc).isoformat(timespec="seconds")


def _dq_rows(checks, run_id: str, table: str, started: str) -> list[dict]:
    """``control_data_quality_results`` rows for one table's gate checks
    — the same rows whether the table was built or its gate failed."""
    return [{
        "dq_result_id": "dq:" + stable_hash_py([run_id, table, c.name], 24),
        "run_id": run_id, "table_name": table,
        "check_name": c.name,
        "status": "pass" if c.passed else "fail",
        "metric_value": str(c.observed),
        "threshold": "", "message": c.detail or "",
        "created_at_utc": started,
    } for c in checks]


def _in_thread(spark: SparkSession, fn):
    """``fn`` wrapped to run on a pool thread with this thread's Spark local
    properties (job group, job description), so every job of the run
    carries the caller's group. Wrap once per task: the wrapper hands its
    thread one copy of the properties, which that thread then mutates.
    With PySpark's pinned-thread mode off, threads share the properties
    and ``inheritable_thread_target`` hands the session back unchanged."""
    wrap = inheritable_thread_target(spark)
    return fn if wrap is spark else wrap(fn)


def _in_run_inputs(tables: Sequence[str]) -> dict[str, list[str]]:
    """Each table's declared inputs that this run also builds."""
    in_run = set(tables)
    return {t: [d for d in GOLD_BUILDERS[t][1] if d in in_run]
            if t in GOLD_BUILDERS else [] for t in tables}


def run_refresh(spark: SparkSession, catalog: BatchCatalog,
                registry: TableRegistry, refresh_type: str, *,
                as_of: date, batch_id: str, raw_root: str = "",
                tables: Optional[Sequence[str]] = None,
                build_mode: str = "full", limit: int = 25,
                snapshot_date: str = "",
                promote: bool = True) -> RefreshRunResult:
    """Execute one cadence. ``build_mode`` is build_table's full|test knob
    (the refresh-level incremental/full distinction lives in the date
    window normalize_refresh_inputs derives)."""
    inputs = normalize_refresh_inputs(
        refresh_type, as_of, known_tables=list(registry.tables),
        tables=list(tables) if tables else None)
    snapshot_date = snapshot_date or as_of.isoformat()
    result = RefreshRunResult(refresh_type=refresh_type, batch_id=batch_id)
    workflow_run_id = f"{refresh_type}:{as_of.isoformat()}:{batch_id}"
    params_json = json.dumps({
        "date_start": inputs.date_start, "date_end": inputs.date_end,
        "chamber": inputs.chamber, "house_no": inputs.house_no,
        "page_size": inputs.page_size}, sort_keys=True)

    def run_row(table: str, started: str, status: str, out_rows: int,
                error: str) -> dict:
        return {
            "run_id": "run:" + stable_hash_py([workflow_run_id, table], 24),
            "workflow_run_id": workflow_run_id,
            "table_name": table, "mode": inputs.mode,
            "cadence": refresh_type,
            "started_at_utc": started, "finished_at_utc": _utc_now(),
            "status": status, "input_params_json": params_json,
            "raw_rows": "", "output_rows": str(out_rows),
            "error_message": error,
            "manifest_s3_key": catalog.manifest_path(batch_id),
        }

    def build(table: str) -> _TableRun:
        started = _utc_now()
        try:
            # looked up at call time: tests and tracers replace it
            res: BuildResult = build_table(
                spark, catalog, registry, table, batch_id=batch_id,
                raw_root=raw_root, mode=build_mode, limit=limit,
                snapshot_date=snapshot_date)
        except Exception as e:  # noqa: BLE001 — per-table isolation
            row = run_row(table, started, "failed", 0, str(e)[:500])
            # the gate kept the table out of the batch, but the check
            # results ride on the exception — record them, or the DQ
            # telemetry table only ever holds passing rows
            dq = (_dq_rows(e.dq, row["run_id"], table, started)
                  if isinstance(e, DQGateError) else [])
            return _TableRun(row, dq, error=f"{type(e).__name__}: {e}")
        row = run_row(table, started, "success", res.row_count, "")
        tdef = registry[table]
        return _TableRun(
            row, _dq_rows(res.dq, row["run_id"], table, started),
            manifest_row={
                "table_name": table, "latest_run_id": row["run_id"],
                "latest_snapshot_date": snapshot_date,
                "latest_parquet_key": catalog.batch_path(batch_id, table),
                "latest_csv_key": "",
                "row_count": str(res.row_count),
                "column_count": str(len(tdef.column_names)),
                "schema_hash": stable_hash_py(tdef.column_names),
                "primary_key_unique": "true",
                "dq_status": "pass",
                "updated_at_utc": _utc_now(),
            },
            rows=res.row_count)

    def write_control(name: str, rows: list[dict]) -> int:
        tdef = registry[name]
        schema = ", ".join(f"{c} string" for c in tdef.column_names)
        df = spark.createDataFrame(
            [tuple(r.get(c, "") for c in tdef.column_names) for r in rows],
            schema)
        MergeWriter(catalog=catalog, spark=spark).write(
            tdef.conform(df), name, tdef.policy, batch_id=batch_id,
            schema=tdef.schema)
        # the committed table's size (append tables hold every run's rows),
        # as for the built tables — not this run's share of it
        return int(catalog.table_entry(name, batch_id=batch_id)["row_count"])

    data_tables = [t for t in inputs.tables if t not in CONTROL_TABLES]
    needs = _in_run_inputs(data_tables)
    runs: dict[str, _TableRun] = {}
    with ThreadPoolExecutor(DAG_WIDTH, "run_refresh") as pool:
        waiting, running = list(data_tables), {}
        while waiting or running:
            ready = [t for t in waiting if all(d in runs for d in needs[t])]
            if not ready and not running:
                raise CatalogError(f"input cycle among {waiting}")
            for table in ready:
                waiting.remove(table)
                failed = [d for d in needs[table] if runs[d].error]
                if failed:
                    error = f"input {', '.join(failed)} failed"
                    runs[table] = _TableRun(
                        run_row(table, _utc_now(), "failed", 0, error),
                        error=error)
                else:
                    running[pool.submit(_in_thread(spark, build),
                                        table)] = table
            if running:
                finished, _ = wait(running, return_when=FIRST_COMPLETED)
                for f in finished:
                    runs[running.pop(f)] = f.result()

        ordered = [runs[t] for t in data_tables]
        for table, run in zip(data_tables, ordered):
            if run.error:
                result.failed[table] = run.error
            else:
                result.built[table] = run.rows
        # the three control tables are independent writes: run them at once
        control_rows = {
            "control_pipeline_runs": [r.run_row for r in ordered],
            "control_table_manifests": [r.manifest_row for r in ordered
                                        if r.manifest_row],
            "control_data_quality_results": [row for r in ordered
                                             for row in r.dq_rows],
        }
        writes = {name: pool.submit(_in_thread(spark, write_control),
                                    name, rows)
                  for name, rows in control_rows.items()}
        for name, f in writes.items():
            result.built[name] = f.result()

    if promote and build_mode == "test":
        # the reference CLI auto-disables publishing for mode=test
        # (build_table.py docstring): every manifest entry carries
        # status='test', so promote would only ever crash at
        # validate_batch after all the build work. Skip it instead.
        promote = False
    if promote:
        if result.failed:
            raise CatalogError(
                f"refresh {workflow_run_id}: {len(result.failed)} table(s) "
                f"failed ({sorted(result.failed)}); batch {batch_id!r} left "
                "unpromoted — production must not point at a partial "
                "snapshot. Fix and rerun, or promote explicitly after "
                "review.")
        # A cadence builds only ITS OWN table subset; the production batch
        # may serve the other cadences' tables too. Carry those forward as
        # manifest references (O(1), data never moves) so the batch-global
        # pointer flip keeps serving them — without this, alternating
        # weekly/monthly cadences deadlock at the shrink guard (and
        # allow_shrink would silently retire the other cadence's tables).
        catalog.carry_forward(batch_id)
        catalog.promote(batch_id, catalog.batch_tables(batch_id))
        result.promoted = True
    return result


def main(argv: Optional[Sequence[str]] = None) -> int:
    ap = argparse.ArgumentParser(prog="run_refresh")
    ap.add_argument("--refresh-type", required=True,
                    choices=("weekly", "monthly", "yearly"))
    ap.add_argument("--as-of", default=date.today().isoformat())
    ap.add_argument("--batch-id",
                    default=os.getenv("SPARK_GRAFT_BATCH_ID", ""))
    ap.add_argument("--raw-root", default="")
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--build-mode", choices=("full", "test"), default="full")
    ap.add_argument("--no-promote", action="store_true")
    ap.add_argument("--json", action="store_true")
    args = ap.parse_args(argv)
    if not args.batch_id:
        ap.error("--batch-id is required (env SPARK_GRAFT_BATCH_ID)")

    from ..session import get_spark
    spark = get_spark(f"run_refresh:{args.refresh_type}")
    registry = TableRegistry.from_dict(DEFAULT_TABLES_CONFIG)
    catalog = BatchCatalog(root=args.warehouse)
    res = run_refresh(
        spark, catalog, registry, args.refresh_type,
        as_of=date.fromisoformat(args.as_of), batch_id=args.batch_id,
        raw_root=args.raw_root, build_mode=args.build_mode,
        promote=not args.no_promote)
    if args.json:
        print(json.dumps({
            "refresh_type": res.refresh_type, "batch_id": res.batch_id,
            "built": res.built, "failed": res.failed,
            "promoted": res.promoted}, sort_keys=True))
    else:
        print(f"{res.refresh_type} refresh into {res.batch_id}: "
              f"{len(res.built)} tables built, {len(res.failed)} failed, "
              f"promoted={res.promoted}")
    return 1 if res.failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
