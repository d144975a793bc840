"""Scheduled refresh run — SURVEY §3.2 (`process/oireachtas_refresh_inputs.py`
+ the reference's workflow loop) executed end-to-end over this engine:

    python -m eirepolitic_data_pipeline_spark.jobs.run_refresh \
        --refresh-type weekly --as-of 2026-08-13 --batch-id w33 \
        --raw-root /data/raw --warehouse /data/warehouse

One run: normalize the cadence inputs (table list in silver→gold
dependency order, overlap window, control tables forced last), build each
table into ONE candidate batch via ``jobs.build_table``, emit the three
control tables FROM the run itself (pipeline-run rows, per-table
manifests, DQ results — the reference's run machinery outputs), and
promote the whole batch once when every table succeeded.

A table failure is recorded (status=failed + error message in
control_pipeline_runs) and the run continues — the reference's per-table
isolation — but a run with any failure is NOT promoted: production never
points at a partially-built snapshot.
"""

from __future__ import annotations

import argparse
import json
import os
from dataclasses import dataclass, field
from datetime import date, datetime, timezone
from typing import Optional, Sequence

from pyspark.sql import SparkSession

from ..io.catalog import BatchCatalog, CatalogError
from ..io.writers import MergeWriter
from ..plans.default_tables import DEFAULT_TABLES_CONFIG
from ..plans.registry import TableRegistry
from ..tables.silver import stable_hash_py
from .build_table import UNSUPPORTED, BuildResult, DQGateError, build_table
from .refresh import normalize_refresh_inputs

CONTROL_TABLES = ("control_pipeline_runs", "control_table_manifests",
                  "control_data_quality_results")


@dataclass
class RefreshRunResult:
    refresh_type: str
    batch_id: str
    built: dict[str, int] = field(default_factory=dict)   # table → committed rows
    failed: dict[str, str] = field(default_factory=dict)  # table → error
    promoted: bool = False


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

    run_rows: list[dict] = []
    dq_rows: list[dict] = []
    manifest_rows: list[dict] = []
    for table in inputs.tables:
        if table in CONTROL_TABLES:
            continue  # emitted from this run's own telemetry below
        started = _utc_now()
        run_id = "run:" + stable_hash_py([workflow_run_id, table], 24)
        try:
            res: BuildResult = build_table(
                spark, catalog, registry, table, batch_id=batch_id,
                raw_root=raw_root, mode=build_mode, limit=limit,
                snapshot_date=snapshot_date)
            result.built[table] = res.row_count
            status, error, out_rows = "success", "", res.row_count
            dq_rows += _dq_rows(res.dq, run_id, table, started)
            tdef = registry[table]
            manifest_rows.append({
                "table_name": table, "latest_run_id": run_id,
                "latest_snapshot_date": snapshot_date,
                "latest_parquet_key": catalog.batch_path(batch_id, table),
                "latest_csv_key": "",
                "row_count": str(res.row_count),
                "column_count": str(len(tdef.column_names)),
                "schema_hash": stable_hash_py(tdef.column_names),
                "primary_key_unique": "true",
                "dq_status": "pass",
                "updated_at_utc": _utc_now(),
            })
        except Exception as e:  # noqa: BLE001 — per-table isolation
            result.failed[table] = f"{type(e).__name__}: {e}"
            status, error, out_rows = "failed", str(e)[:500], 0
            if isinstance(e, DQGateError):
                # the gate kept the table out of the batch, but the check
                # results ride on the exception — record them, or the DQ
                # telemetry table only ever holds passing rows
                dq_rows += _dq_rows(e.dq, run_id, table, started)
        run_rows.append({
            "run_id": run_id, "workflow_run_id": workflow_run_id,
            "table_name": table, "mode": inputs.mode,
            "cadence": refresh_type,
            "started_at_utc": started, "finished_at_utc": _utc_now(),
            "status": status,
            "input_params_json": json.dumps({
                "date_start": inputs.date_start,
                "date_end": inputs.date_end,
                "chamber": inputs.chamber, "house_no": inputs.house_no,
                "page_size": inputs.page_size}, sort_keys=True),
            "raw_rows": "", "output_rows": str(out_rows),
            "error_message": error,
            "manifest_s3_key": catalog.manifest_path(batch_id),
        })

    writer = MergeWriter(catalog=catalog, spark=spark)
    control_frames = {
        "control_pipeline_runs": run_rows,
        "control_table_manifests": manifest_rows,
        "control_data_quality_results": dq_rows,
    }
    for name, rows in control_frames.items():
        tdef = registry[name]
        schema = ", ".join(f"{c} string" for c in tdef.column_names)
        df = spark.createDataFrame(
            [tuple(r.get(c, "") for c in tdef.column_names) for r in rows],
            schema)
        writer.write(tdef.conform(df), name, tdef.policy, batch_id=batch_id,
                     schema=tdef.schema)
        # the committed table's size (append tables hold every run's rows),
        # as for the built tables — not this run's share of it
        result.built[name] = int(
            catalog.table_entry(name, batch_id=batch_id)["row_count"])

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
