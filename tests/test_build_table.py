"""build_table entry point (§3.1): raw payload files → silver tables →
gold marts through the registry, DQ gate, write policies and catalog."""

from __future__ import annotations

import json
from datetime import date

import pytest

from eirepolitic_data_pipeline_spark.io.catalog import BatchCatalog, CatalogError
from eirepolitic_data_pipeline_spark.jobs.build_table import (
    UNSUPPORTED, BuildResult, build_table, main)
from eirepolitic_data_pipeline_spark.plans.default_tables import (
    DEFAULT_TABLES_CONFIG)
from eirepolitic_data_pipeline_spark.plans.registry import TableRegistry

SNAP = "2026-08-13"
TODAY = date(2026, 8, 13)


def _members_page():
    return {"results": [
        {"member": {
            "memberCode": "TD001", "fullName": "Aoife Byrne",
            "uri": "/member/id/TD001",
            "memberships": [{"membership": {
                "uri": "/membership/1",
                "house": {"houseNo": "34", "houseCode": "dail",
                          "uri": "/house/34"},
                "dateRange": {"start": "2024-01-01", "end": None},
                "parties": [{"party": {
                    "showAs": "New Party",
                    "dateRange": {"start": "2024-01-01", "end": None}}}],
                "represents": [{"represent": {
                    "showAs": "Wicklow-Wexford"}}],
                "offices": [{"office": {
                    "showAs": "Minister for Transport",
                    "dateRange": {"start": "2024-02-01",
                                  "end": None}}}]}}]}},
        {"member": {
            "memberCode": "TD002", "fullName": "Brian Walsh",
            "uri": "/member/id/TD002",
            "memberships": [{"membership": {
                "uri": "/membership/2",
                "house": {"houseNo": "34", "houseCode": "dail"},
                "dateRange": {"start": "2024-02-01", "end": None},
                "party": {"showAs": "Other Party"},
                "constituency": {"showAs": "Cork North"}}}]}},
    ]}


def _divisions_page():
    def m(code):
        return {"member": {"memberCode": code,
                           "uri": f"/member/id/{code}"}}
    return {"results": [{"division": {
        "uri": "/div/D1", "date": "2025-03-05",
        "house": {"houseNo": "34", "houseCode": "dail"},
        "subject": {"showAs": "Second Stage"}, "outcome": "Carried",
        "tallies": {
            "taVotes": {"members": [m("TD001"), m("TD002")],
                        "showAs": "Tá", "tally": 2},
            "nilVotes": {"members": [], "showAs": "Níl", "tally": 0},
        }}}]}


_SPEECH_XML = """<?xml version="1.0"?>
<akomaNtoso><references>
  <TLCPerson eId="P1" href="/ie/oireachtas/member/id/TD001/"/>
</references><debate>
  <debateSection name="housing" eId="dbsect_1">
    <speech by="#P1"><p>A substantive housing point.</p></speech>
  </debateSection>
</debate></akomaNtoso>"""


@pytest.fixture()
def raw_root(tmp_path):
    root = tmp_path / "raw"
    root.mkdir()
    (root / "members.jsonl").write_text(json.dumps(_members_page()) + "\n")
    (root / "divisions.jsonl").write_text(
        json.dumps(_divisions_page()) + "\n")
    (root / "debate_xml.jsonl").write_text(json.dumps({
        "debate_id": "/debate/2025-03-05/dail",
        "debate_date": "2025-03-05",
        "xml_uri": "/debate/xml", "xml_url": "https://host/d.xml",
        "xml": _SPEECH_XML}) + "\n")
    return str(root)


def test_build_table_silver_to_gold(spark, tmp_path, raw_root):
    registry = TableRegistry.from_dict(DEFAULT_TABLES_CONFIG)
    catalog = BatchCatalog(root=str(tmp_path / "wh"))
    kw = dict(batch_id="b1", raw_root=raw_root, mode="full",
              snapshot_date=SNAP, today=TODAY)
    built = {}
    for t in ("silver_members", "silver_member_memberships",
              "silver_member_parties", "silver_member_constituencies",
              "silver_member_offices", "silver_member_votes",
              "silver_divisions", "silver_speeches"):
        built[t] = build_table(spark, catalog, registry, t, **kw)
        assert isinstance(built[t], BuildResult) and built[t].dq_passed
    assert built["silver_members"].row_count == 2
    assert built["silver_member_parties"].row_count == 2
    assert built["silver_member_votes"].row_count == 2
    assert built["silver_divisions"].row_count == 1

    # gold layers in the SAME batch read the silver tables this run just
    # produced (candidate-first resolution) — one batch per refresh run
    res = build_table(spark, catalog, registry, "gold_current_members",
                      batch_id="b1", snapshot_date=SNAP)
    assert res.row_count == 2
    # yearly mart over the same batch (speeches present this time)
    res_y = build_table(spark, catalog, registry,
                        "gold_member_activity_yearly",
                        batch_id="b1", snapshot_date=SNAP)
    assert res_y.row_count >= 2
    # the constituency mart and fact pool must ALSO build through the CLI
    # — their input wiring (gold_current_members as the roster, which
    # carries constituency_name; silver_members does not) had no coverage
    res_c = build_table(spark, catalog, registry,
                        "gold_constituency_activity_yearly",
                        batch_id="b1", snapshot_date=SNAP)
    assert res_c.row_count >= 2
    res_m = build_table(spark, catalog, registry,
                        "gold_member_activity_monthly",
                        batch_id="b1", snapshot_date=SNAP)
    assert res_m.row_count >= 2
    res_p = build_table(spark, catalog, registry, "gold_content_fact_pool",
                        batch_id="b1", snapshot_date=SNAP)
    assert res_p.row_count >= 2
    catalog.promote("b1", [*built, "gold_current_members",
                           "gold_member_activity_yearly",
                           "gold_constituency_activity_yearly",
                           "gold_member_activity_monthly",
                           "gold_content_fact_pool"])
    cons = {(r["constituency_name"], r["year"]): r for r in catalog.read_table(
        spark, "gold_constituency_activity_yearly").collect()}
    assert cons[("Wicklow-Wexford", "2025")]["member_count"] >= 1

    roster = {r["member_code"]: r for r in
              catalog.read_table(spark, "gold_current_members").collect()}
    assert roster["TD001"]["party_name"] == "New Party"
    assert roster["TD001"]["constituency_name"] == "Wicklow-Wexford"
    assert roster["TD002"]["constituency_name"] == "Cork North"
    got = {(r["member_code"], r["year"]): r for r in catalog.read_table(
        spark, "gold_member_activity_yearly").collect()}
    assert got[("TD001", "2025")]["votes_cast_count"] == 1
    assert got[("TD001", "2025")]["division_count"] == 1
    # the XML-built speeches table feeds the mart's speech counts
    assert got[("TD001", "2025")]["speech_count"] == 1
    assert got[("TD002", "2025")]["speech_count"] == 0


def test_build_table_mode_test_caps_input(spark, tmp_path, raw_root):
    registry = TableRegistry.from_dict(DEFAULT_TABLES_CONFIG)
    catalog = BatchCatalog(root=str(tmp_path / "wh"))
    res = build_table(spark, catalog, registry, "silver_members",
                      batch_id="t1", raw_root=raw_root, mode="test",
                      limit=1, snapshot_date=SNAP)
    assert res.row_count == 2  # one PAGE capped, both members on the page


def test_build_table_errors(spark, tmp_path, raw_root):
    registry = TableRegistry.from_dict(DEFAULT_TABLES_CONFIG)
    catalog = BatchCatalog(root=str(tmp_path / "wh"))
    for bad in UNSUPPORTED:
        with pytest.raises(CatalogError, match="unsupported"):
            build_table(spark, catalog, registry, bad, batch_id="x",
                        raw_root=raw_root)
    with pytest.raises(CatalogError, match="unknown table"):
        build_table(spark, catalog, registry, "nope", batch_id="x")
    # gold with a missing REQUIRED input names the missing table
    with pytest.raises(CatalogError, match="silver_members"):
        build_table(spark, catalog, registry, "gold_current_members",
                    batch_id="x")
    with pytest.raises(ValueError, match="mode"):
        build_table(spark, catalog, registry, "silver_members",
                    batch_id="x", raw_root=raw_root, mode="nope")


def test_build_table_cli_list(capsys):
    assert main(["--warehouse", "/tmp/nowhere", "--list-tables"]) == 0
    out = capsys.readouterr().out
    assert "silver_members\tbuilder" in out
    assert "control_pipeline_runs\tunsupported" in out


def test_promote_refuses_shrinking_batch(spark, tmp_path, raw_root):
    """--promote on a batch holding a SUBSET of production's tables must
    refuse (the pointer is batch-global: promoting would silently remove
    every absent table from production reads); --allow-shrink is the
    explicit retirement override."""
    registry = TableRegistry.from_dict(DEFAULT_TABLES_CONFIG)
    catalog = BatchCatalog(root=str(tmp_path / "wh"))
    kw = dict(raw_root=raw_root, mode="full", snapshot_date=SNAP,
              today=TODAY)
    build_table(spark, catalog, registry, "silver_members",
                batch_id="b1", **kw)
    build_table(spark, catalog, registry, "silver_member_parties",
                batch_id="b1", promote=True, **kw)
    assert catalog.production_batch_id() == "b1"

    # b2 rebuilds only ONE of production's two tables (batch paths are
    # immutable, so each promote attempt builds a fresh table into b2)
    build_table(spark, catalog, registry, "silver_members",
                batch_id="b2", **kw)
    with pytest.raises(CatalogError, match="silver_member_parties"):
        build_table(spark, catalog, registry, "silver_member_constituencies",
                    batch_id="b2", promote=True, **kw)
    assert catalog.production_batch_id() == "b1"  # pointer untouched

    build_table(spark, catalog, registry, "silver_member_offices",
                batch_id="b2", promote=True, allow_shrink=True, **kw)
    assert catalog.production_batch_id() == "b2"


def _repeated_member_raw(tmp_path):
    """A raw members page that lists member TD001 twice."""
    page = _members_page()
    page["results"].append(page["results"][0])
    root = tmp_path / "raw_dup"
    root.mkdir()
    (root / "members.jsonl").write_text(json.dumps(page) + "\n")
    return str(root)


def test_dq_gate_failure_keeps_table_out_of_batch(spark, tmp_path,
                                                  monkeypatch):
    """A real gate failure through build_table: the gate's metrics ride on
    the write, so the files land first — a failing gate must remove them
    and leave no manifest entry, and run_refresh must record the failing
    check and refuse to promote. silver_members dedupes its own output,
    so the builder's dedupe is switched off to let the repeated member
    reach the gate."""
    import os

    from eirepolitic_data_pipeline_spark.jobs.build_table import DQGateError
    from eirepolitic_data_pipeline_spark.jobs.run_refresh import run_refresh
    from eirepolitic_data_pipeline_spark.tables import silver

    monkeypatch.setattr(silver, "dedupe_total_order", lambda df, keys: df)
    raw = _repeated_member_raw(tmp_path)
    registry = TableRegistry.from_dict(DEFAULT_TABLES_CONFIG)
    catalog = BatchCatalog(root=str(tmp_path / "wh"))
    with pytest.raises(DQGateError) as err:
        build_table(spark, catalog, registry, "silver_members",
                    batch_id="g1", raw_root=raw, mode="full",
                    snapshot_date=SNAP, today=TODAY)
    checks = {c.name: (c.passed, c.observed) for c in err.value.dq}
    assert checks == {"row_count>=1": (True, 3),
                      "unique(member_code)": (False, 1),
                      "member_code_blank_count==0": (True, 0)}
    assert not catalog.batch_has_table("g1", "silver_members")
    assert not os.path.exists(catalog.batch_path("g1", "silver_members"))

    with pytest.raises(CatalogError, match="unpromoted"):
        run_refresh(spark, catalog, registry, "weekly",
                    as_of=date(2026, 8, 13), batch_id="g2", raw_root=raw,
                    tables=["silver_members",
                            "control_data_quality_results"])
    assert catalog.production_batch_id() is None
    assert not catalog.batch_has_table("g2", "silver_members")
    dq = {r["check_name"]: (r["status"], r["metric_value"])
          for r in catalog.read_table(
              spark, "control_data_quality_results", batch_id="g2")
          .collect()}
    assert dq == {"row_count>=1": ("pass", "3"),
                  "unique(member_code)": ("fail", "1"),
                  "member_code_blank_count==0": ("pass", "0")}


def test_dq_gate_fails_empty_build(spark, tmp_path):
    """An empty members page builds zero rows: the shipped builder fails
    the row-count check, observed as 0 rather than null."""
    from eirepolitic_data_pipeline_spark.jobs.build_table import DQGateError

    root = tmp_path / "raw_empty"
    root.mkdir()
    (root / "members.jsonl").write_text(json.dumps({"results": []}) + "\n")
    registry = TableRegistry.from_dict(DEFAULT_TABLES_CONFIG)
    catalog = BatchCatalog(root=str(tmp_path / "wh"))
    with pytest.raises(DQGateError) as err:
        build_table(spark, catalog, registry, "silver_members",
                    batch_id="e1", raw_root=str(root), mode="full",
                    snapshot_date=SNAP, today=TODAY)
    assert [(c.name, c.passed, c.observed) for c in err.value.dq] == [
        ("row_count>=1", False, 0), ("unique(member_code)", True, 0),
        ("member_code_blank_count==0", True, 0)]
    assert catalog.batch_tables("e1") == []


def test_gold_build_releases_only_its_own_cached_frames(spark, tmp_path,
                                                         raw_root,
                                                         monkeypatch):
    """A gold build unpersists the frames its builder cached, not every
    block that became persistent while it ran: a frame another thread
    persists during the build's write keeps its cached blocks."""
    import threading

    from eirepolitic_data_pipeline_spark.io.writers import MergeWriter

    registry = TableRegistry.from_dict(DEFAULT_TABLES_CONFIG)
    catalog = BatchCatalog(root=str(tmp_path / "wh"))
    kw = dict(batch_id="b1", raw_root=raw_root, snapshot_date=SNAP)
    for t in ("silver_members", "silver_member_memberships",
              "silver_member_votes", "gold_current_members"):
        build_table(spark, catalog, registry, t, **kw)

    jsc = spark.sparkContext._jsc

    def persistent():
        return set(jsc.getPersistentRDDs().keySet().toArray())

    other = {}

    def persist_elsewhere():
        before = persistent()
        other["df"] = spark.range(50).selectExpr("id * 7 AS v").persist()
        other["df"].count()
        other["rdds"] = persistent() - before

    real_write = MergeWriter.write

    def write(self, *a, **k):
        t = threading.Thread(target=persist_elsewhere)
        t.start()
        t.join()
        return real_write(self, *a, **k)

    monkeypatch.setattr(MergeWriter, "write", write)
    before = persistent()
    res = build_table(spark, catalog, registry,
                      "gold_member_activity_yearly", **kw)
    assert res.row_count >= 2
    try:
        assert other["rdds"] and other["rdds"] <= persistent()
        # ... while the builder's own cached frames were all released
        assert persistent() - before == other["rdds"]
    finally:
        other["df"].unpersist()
