"""``weekly_refresh``: the scheduled cadence's write path.

One round is a two-week cycle from an empty warehouse, both cadences
through ``run_refresh(..., "weekly")`` with promotion: week 1 into the
empty warehouse, then the overlapping week 2 merged into that history.
The first round runs in a fresh JVM and is not preceded by a warm-up: a
scheduled weekly refresh starts a new Spark application every week, so
its users pay the JIT warm-up on every cadence. The checks compare the
warehouse, read back with pyarrow, with the generator's model.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds

import gen_weekly

#: A slice of the weekly default list that still runs every write policy
#: (snapshot_replace, upsert, append, rebuild) and the silver -> gold
#: chain; the whole 17-table list takes ~36 s per warm week on 4 cores,
#: more than one run of the benchmark can spend.
TABLES = ("silver_members", "silver_member_memberships",
          "silver_member_votes", "gold_current_members",
          "gold_member_activity_yearly")


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _s, files in os.walk(path) for f in files)


def expected_rows(archive, week: int) -> dict:
    exp = {t: archive.expected[week][t] for t in TABLES}
    n = len(TABLES)
    exp.update({"control_pipeline_runs": n * week,
                "control_data_quality_results": 3 * n * week,
                "control_table_manifests": n})
    return exp


def read_batch(catalog, batch_id: str, table: str, columns=None) -> pa.Table:
    return ds.dataset(catalog.batch_path(batch_id, table),
                      format="parquet").to_table(columns=columns)


def check_tables(tables: dict, primary_keys: dict, expected: dict,
                 totals: dict) -> list[str]:
    """Problems in one week's tables (``{name: pyarrow.Table}``) against
    the model: row counts, primary-key uniqueness, conserved totals."""
    problems = []
    for name, want in expected.items():
        got = tables[name]
        if got.num_rows != want:
            problems.append(f"{name}: {got.num_rows} rows, expected {want}")
        pk = primary_keys[name]
        keys = got.select(pk).group_by(pk).aggregate([]).num_rows
        if keys != got.num_rows:
            problems.append(f"{name}: {got.num_rows - keys} duplicate "
                            f"primary keys {pk}")
    yearly = tables["gold_member_activity_yearly"]
    votes = pc.sum(yearly["votes_cast_count"]).as_py()
    if votes != totals["votes"]:
        problems.append(f"yearly votes sum to {votes}, the generator wrote "
                        f"{totals['votes']} vote rows")
    current = tables["gold_current_members"]["member_code"]
    mask = pc.is_in(yearly["member_code"], value_set=current)
    cur = pc.sum(pc.filter(yearly["votes_cast_count"], mask)).as_py() or 0
    if cur != totals["votes_current"]:
        problems.append(f"current members' yearly votes sum to {cur}, "
                        f"expected {totals['votes_current']}")
    pct = pc.min_max(yearly["vote_participation_pct"]).as_py()
    if pct["min"] is None or pct["min"] < 0 or pct["max"] > 100:
        problems.append(f"vote_participation_pct outside [0, 100]: {pct}")
    return problems


def check(catalog, registry, archive) -> list[str]:
    """Problems in a warehouse holding both weeks (empty = correct).
    Leaves production rolled back to week 1."""
    problems = []
    if catalog.production_batch_id() != "w2":
        problems.append(f"production is {catalog.production_batch_id()!r}, "
                        "expected 'w2'")
    expected = expected_rows(archive, 2)
    pks = {t: list(registry[t].policy.primary_key) for t in expected}
    tables = {t: read_batch(catalog, "w2", t) for t in expected}
    problems += check_tables(tables, pks, expected, archive.totals[2])
    catalog.rollback("w1")
    served = catalog.production_batch_id()
    for table, want in expected_rows(archive, 1).items():
        got = read_batch(catalog, served, table, columns=[]).num_rows
        if got != want:
            problems.append(f"after rollback, batch {served!r} serves "
                            f"{table} with {got} rows, expected {want}")
    return problems


def run(ctx) -> dict:
    from eirepolitic_data_pipeline_spark.io.catalog import BatchCatalog
    from eirepolitic_data_pipeline_spark.jobs import run_refresh as rr
    from eirepolitic_data_pipeline_spark.plans.default_tables import (
        DEFAULT_TABLES_CONFIG)
    from eirepolitic_data_pipeline_spark.plans.registry import TableRegistry

    with ctx.generating():
        archive = gen_weekly.generate(os.path.join(ctx.work, "raw"),
                                      ctx.seed)
    spark = ctx.spark()
    registry = TableRegistry.from_dict(DEFAULT_TABLES_CONFIG)
    tables = list(TABLES) + list(gen_weekly.CONTROL_TABLES)
    catalog = BatchCatalog(root=os.path.join(ctx.work, "warehouse"))
    outcome = {"attempted": 0, "failed": 0, "problems": []}

    def cadence(week: int) -> None:
        outcome["attempted"] += len(tables)
        try:
            res = rr.run_refresh(
                spark, catalog, registry, "weekly",
                as_of=(gen_weekly.WEEK1_AS_OF if week == 1
                       else gen_weekly.WEEK2_AS_OF),
                batch_id=f"w{week}",
                raw_root=(archive.week1_root if week == 1
                          else archive.week2_root),
                tables=tables)
        except Exception as e:  # noqa: BLE001 — counted, reported
            outcome["failed"] += len(tables)
            outcome["problems"].append(f"week {week}: {e}"[:500])
            return
        outcome["failed"] += len(res.failed)

    def empty_warehouse() -> None:
        shutil.rmtree(catalog.root, ignore_errors=True)

    def cycle() -> None:
        cadence(1)
        cadence(2)

    ctx.setup_done()
    outcome["rounds"] = ctx.time_rounds(cycle, before=empty_warehouse)
    if not outcome["problems"]:
        outcome["problems"] += check(catalog, registry, archive)
    outcome["bytes_written"] = dir_bytes(catalog.root)
    outcome["record"] = {"inputs": archive.source_stats, "tables": tables}
    return outcome
