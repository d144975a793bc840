"""End-to-end lifecycle: raw JSON → silver → DQ → merge-write → batch
promote → gold marts → rollback (SURVEY §3.1/§3.2 in one pass)."""

from __future__ import annotations

import json
from datetime import date

from eirepolitic_data_pipeline_spark.io.catalog import BatchCatalog
from eirepolitic_data_pipeline_spark.io.writers import MergeWriter
from eirepolitic_data_pipeline_spark.plans import DQSuite, TableRegistry
from eirepolitic_data_pipeline_spark.plans.default_tables import (
    DEFAULT_TABLES_CONFIG,
)
from eirepolitic_data_pipeline_spark.plans.quality import fk_orphan_counts
from eirepolitic_data_pipeline_spark.tables import (
    gold_current_members,
    gold_member_activity_yearly,
    silver_member_memberships,
    silver_member_votes,
    silver_members,
)

TODAY = date(2026, 8, 13)
SNAP = "2026-08-13"


def _member(code, name, start, end, party, cons, house):
    return {"member": {
        "memberCode": code, "fullName": name,
        "uri": f"/member/id/{code}",
        "memberships": [{"membership": {
            "uri": f"/membership/{code}",
            "house": {"houseNo": house, "houseCode": "dail",
                      "uri": f"/house/{house}"},
            "dateRange": {"start": start, "end": end},
            "party": {"showAs": party},
            "constituency": {"showAs": cons}}}]}}


def _division(did, d, ta, nil):
    def m(code):
        return {"member": {"memberCode": code, "showAs": code}}
    return {"division": {"uri": did, "voteId": did, "date": d, "tallies": {
        "taVotes": {"tally": len(ta), "members": [m(c) for c in ta]},
        "nilVotes": {"tally": len(nil), "members": [m(c) for c in nil]},
        "staonVotes": {"tally": 0, "members": []},
    }}}


def test_full_pipeline_lifecycle(spark, tmp_path):
    registry = TableRegistry.from_dict(DEFAULT_TABLES_CONFIG)
    catalog = BatchCatalog(root=str(tmp_path / "warehouse"))
    writer = MergeWriter(catalog=catalog, spark=spark)

    # -- batch 1: initial extract ----------------------------------------
    payload1 = {"results": [
        _member("TD001", "Aoife Byrne", "2024-01-01", None,
                "New Party", "Wicklow-Wexford", "34"),
        _member("TD002", "Brian Walsh", "2024-02-01", None,
                "Other Party", "Cork North", "34"),
    ]}
    div1 = {"results": [_division("/div/D1", "2025-03-05",
                                  ["TD001", "TD002"], [])]}
    raw_m = spark.createDataFrame([(json.dumps(payload1),)], "payload string")
    raw_d = spark.createDataFrame([(json.dumps(div1),)], "payload string")

    members = silver_members(raw_m, snapshot_date=SNAP, today=TODAY)
    memberships = silver_member_memberships(raw_m, snapshot_date=SNAP,
                                            today=TODAY)
    votes = silver_member_votes(raw_d, snapshot_date=SNAP)

    # DQ gate (reference per-builder `_dq_results`) compiled to one agg pass.
    dq = (DQSuite().min_rows(1).non_blank("member_code")
          .unique(["member_code"]).run(members))
    assert DQSuite.passed(dq)
    orphan_checks = fk_orphan_counts(
        votes, {"silver_members": members.select("member_code")},
        fks=[("member_code", "silver_members", "member_code", False)])
    assert all(c.passed for c in orphan_checks)

    for tname, df in (("silver_members", members),
                      ("silver_member_memberships", memberships),
                      ("silver_member_votes", votes)):
        tdef = registry.tables[tname]
        writer.write(tdef.conform(df), tname, tdef.policy, batch_id="b1")
    catalog.promote("b1", ["silver_members", "silver_member_memberships",
                           "silver_member_votes"])
    assert catalog.production_batch_id() == "b1"

    # -- batch 2: re-extract with an end-date update (upsert keep-last) ---
    payload2 = {"results": [
        _member("TD002", "Brian Walsh", "2024-02-01", "2026-06-30",
                "Other Party", "Cork North", "34"),
    ]}
    raw_m2 = spark.createDataFrame([(json.dumps(payload2),)],
                                   "payload string")
    memberships2 = silver_member_memberships(raw_m2, snapshot_date=SNAP,
                                             today=TODAY)
    tdef = registry.tables["silver_member_memberships"]
    writer.write(tdef.conform(memberships2), "silver_member_memberships",
                 tdef.policy, batch_id="b2")
    merged = catalog.read_table(spark, "silver_member_memberships",
                                batch_id="b2")
    # Same membership_id (URI) updated in place: still 2 rows, TD002 closed.
    got = {r["membership_id"]: r for r in merged.collect()}
    assert len(got) == 2
    assert got["/membership/TD002"]["membership_end"] == date(2026, 6, 30)
    assert got["/membership/TD001"]["membership_end"] is None

    # An incomplete batch cannot be promoted with the full expectation list.
    problems = catalog.validate_batch("b2", ["silver_members",
                                            "silver_member_memberships"])
    assert any("silver_members" in p for p in problems)
    # b2 deliberately serves fewer tables than b1 — the catalog-level
    # shrink guard requires the explicit override
    catalog.promote("b2", ["silver_member_memberships"], allow_shrink=True)

    # -- gold marts over production reads ---------------------------------
    prod_members = catalog.read_table(spark, "silver_members",
                                      batch_id="b1")
    str_members = prod_members.selectExpr(
        "member_code", "full_name",
        "cast(is_current_member as string) as is_current_member",
        "latest_party_name", "latest_constituency_name", "latest_house_no")
    str_memb = catalog.read_table(
        spark, "silver_member_memberships").selectExpr(
        "membership_id", "member_code", "house_no",
        "cast(membership_start as string) as membership_start",
        "coalesce(cast(membership_end as string), '') as membership_end",
        "cast(is_current as string) as is_current")
    none_dim = (str_memb.limit(0)
                .selectExpr("member_code", "'' as party_name",
                            "'' as party_start", "'' as party_end",
                            "'' as is_current"))
    cons_dim = (str_memb.limit(0)
                .selectExpr("member_code", "'' as constituency_name",
                            "'' as represent_start", "'' as represent_end",
                            "'' as is_current"))
    office_dim = (str_memb.limit(0)
                  .selectExpr("member_code", "'' as office_name",
                              "'' as office_start", "'' as office_end",
                              "'' as is_current"))
    roster = gold_current_members(str_members, str_memb, none_dim, cons_dim,
                                  office_dim, SNAP)
    by_code = {r["member_code"]: r for r in roster.collect()}
    assert by_code["TD001"]["party_name"] == "New Party"   # latest_* fallback
    assert by_code["TD001"]["house_no"] == "34"

    prod_votes = catalog.read_table(spark, "silver_member_votes",
                                    batch_id="b1").selectExpr(
        "member_vote_id", "member_code",
        "cast(division_date as string) as division_date", "division_id",
        "vote_code", "vote_label")
    speeches = prod_votes.limit(0).selectExpr(
        "member_code as speaker_member_code",
        "division_date as debate_date", "division_id as speech_id")
    activity = gold_member_activity_yearly(
        str_members, speeches, prod_votes, None, SNAP)
    acts = {(r["member_code"], r["year"]): r for r in activity.collect()}
    assert acts[("TD001", "2025")]["votes_cast_count"] == 1
    assert acts[("TD001", "2025")]["vote_participation_pct"] == 100.0

    # -- rollback is one pointer write ------------------------------------
    catalog.rollback("b1")
    assert catalog.production_batch_id() == "b1"
