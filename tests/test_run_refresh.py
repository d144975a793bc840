"""run_refresh orchestration (§3.2): one cadence through build_table into
one batch, control tables emitted from the run, promote-only-if-clean."""

from __future__ import annotations

import json
from datetime import date

import pytest

from eirepolitic_data_pipeline_spark.io.catalog import BatchCatalog, CatalogError
from eirepolitic_data_pipeline_spark.jobs.run_refresh import run_refresh
from eirepolitic_data_pipeline_spark.plans.default_tables import (
    DEFAULT_TABLES_CONFIG)
from eirepolitic_data_pipeline_spark.plans.registry import TableRegistry
from tests.test_build_table import raw_root  # noqa: F401 — fixture reuse

AS_OF = date(2026, 8, 13)

# a weekly-shaped subset the shared raw fixture can actually feed
TABLES = ["silver_members", "silver_member_memberships",
          "silver_member_parties", "silver_member_constituencies",
          "silver_member_offices", "silver_divisions",
          "silver_member_votes", "silver_speeches",
          "gold_current_members", "gold_member_activity_yearly",
          "control_pipeline_runs", "control_table_manifests",
          "control_data_quality_results"]


def test_run_refresh_end_to_end(spark, tmp_path, raw_root):  # noqa: F811
    registry = TableRegistry.from_dict(DEFAULT_TABLES_CONFIG)
    catalog = BatchCatalog(root=str(tmp_path / "wh"))
    res = run_refresh(spark, catalog, registry, "weekly", as_of=AS_OF,
                      batch_id="w33", raw_root=raw_root, tables=TABLES)
    assert not res.failed and res.promoted
    assert catalog.production_batch_id() == "w33"
    # every requested table (incl. the 3 control tables) is in the batch
    assert set(catalog.batch_tables("w33")) == set(TABLES)

    runs = {r["table_name"]: r for r in catalog.read_table(
        spark, "control_pipeline_runs").collect()}
    assert len(runs) == 10                      # one row per built table
    assert all(r["status"] == "success" for r in runs.values())
    assert runs["silver_members"]["cadence"] == "weekly"
    params = json.loads(runs["silver_members"]["input_params_json"])
    assert params["date_start"] <= params["date_end"]

    manifests = {r["table_name"]: r for r in catalog.read_table(
        spark, "control_table_manifests").collect()}
    assert manifests["silver_members"]["row_count"] == 2
    assert manifests["gold_current_members"]["dq_status"] == "pass"

    dq = catalog.read_table(spark, "control_data_quality_results")
    assert dq.filter(dq.status != "pass").count() == 0
    assert dq.count() >= 10


def test_run_refresh_failure_blocks_promotion(spark, tmp_path, raw_root):  # noqa: F811
    registry = TableRegistry.from_dict(DEFAULT_TABLES_CONFIG)
    catalog = BatchCatalog(root=str(tmp_path / "wh"))
    # silver_questions has no raw fixture → that table fails; the run
    # records it and refuses to promote the partial snapshot
    with pytest.raises(CatalogError, match="unpromoted"):
        run_refresh(spark, catalog, registry, "weekly", as_of=AS_OF,
                    batch_id="w34", raw_root=raw_root,
                    tables=["silver_members", "silver_questions",
                            "control_pipeline_runs"])
    assert catalog.production_batch_id() is None
    runs = {r["table_name"]: r["status"] for r in catalog.read_table(
        spark, "control_pipeline_runs", batch_id="w34").collect()}
    assert runs == {"silver_members": "success",
                    "silver_questions": "failed"}
    # no-promote mode reports instead of raising
    res = run_refresh(spark, catalog, registry, "weekly", as_of=AS_OF,
                      batch_id="w35", raw_root=raw_root,
                      tables=["silver_members", "silver_questions"],
                      promote=False)
    assert res.built["silver_members"] == 2
    assert "silver_questions" in res.failed and not res.promoted


def test_run_refresh_persists_fact_tables_bucketed(spark, tmp_path, raw_root):  # noqa: F811
    """The merge-heavy silver facts (bucket_by in the registry config) land
    BUCKETED by default through the refresh cycle: the batch manifest
    records the clustering, a catalog read re-attaches it, and a second
    cycle's merge keeps contents correct (per-table values asserted by the
    e2e test above; here the storage contract)."""
    registry = TableRegistry.from_dict(DEFAULT_TABLES_CONFIG)
    catalog = BatchCatalog(root=str(tmp_path / "wh"))
    res = run_refresh(spark, catalog, registry, "weekly", as_of=AS_OF,
                      batch_id="w40", raw_root=raw_root, tables=TABLES)
    assert not res.failed and res.promoted

    m = catalog._load_manifest("w40")["tables"]
    for fact in ("silver_member_votes", "silver_speeches"):
        assert m[fact]["bucket_by"] == [registry[fact].policy.primary_key[0]]
        assert m[fact]["num_buckets"] >= 4
        # the read goes through the re-attached catalog table (a plain
        # parquet read would drop the clustering); whether a given plan
        # USES the bucketing is the planner's call (auto bucketed scan
        # disables it for scans with no join/agg to serve) — the join-plan
        # mechanics are pinned in tests/test_bucketing.py
        plan = catalog.read_table(spark, fact)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "spark_catalog.default.__catalog_read_" in plan, fact
    # dimension tables stay plain
    assert m["silver_members"]["bucket_by"] == []

    # second cycle: merge against the bucketed history, still bucketed out
    res2 = run_refresh(spark, catalog, registry, "weekly", as_of=AS_OF,
                       batch_id="w41", raw_root=raw_root, tables=TABLES)
    assert not res2.failed and res2.promoted
    m2 = catalog._load_manifest("w41")["tables"]
    assert m2["silver_member_votes"]["bucket_by"] == ["member_vote_id"]
    votes = catalog.read_table(spark, "silver_member_votes")
    assert votes.count() == votes.select("member_vote_id").distinct().count()


def test_built_reports_committed_control_table_sizes(spark, tmp_path,
                                                     raw_root):  # noqa: F811
    """``built`` reports what each table holds after the run. The two
    append-policy control tables keep every run's rows, so after two
    weekly runs over N tables they hold 2N run rows and 2x the DQ rows."""
    registry = TableRegistry.from_dict(DEFAULT_TABLES_CONFIG)
    catalog = BatchCatalog(root=str(tmp_path / "wh"))
    tables = ["silver_members", "silver_member_votes",
              "control_pipeline_runs", "control_table_manifests",
              "control_data_quality_results"]
    n = 2                                   # non-control tables
    for week, batch_id in enumerate(("w1", "w2"), start=1):
        res = run_refresh(spark, catalog, registry, "weekly", as_of=AS_OF,
                          batch_id=batch_id, raw_root=raw_root,
                          tables=tables)
        assert not res.failed and res.promoted
        assert res.built["control_pipeline_runs"] == week * n
        assert res.built["control_data_quality_results"] == week * 3 * n
        assert res.built["control_table_manifests"] == n
        for name in ("control_pipeline_runs",
                     "control_data_quality_results"):
            assert res.built[name] == catalog.read_table(
                spark, name, batch_id=batch_id).count()
