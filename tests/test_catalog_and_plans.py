"""Batch/pointer catalog, MergeWriter, registry, DQ compiler tests —
porting the reference's batch-control and contract test behaviors
(tests/test_oireachtas_batch_control.py, test_oireachtas_downstream_contracts.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from eirepolitic_data_pipeline_spark.io import BatchCatalog, CatalogError, MergeWriter
from eirepolitic_data_pipeline_spark.operators import WritePolicy
from eirepolitic_data_pipeline_spark.plans import DQSuite, TableRegistry, contract_checks
from eirepolitic_data_pipeline_spark.plans.quality import comparison_gates, fk_orphan_counts


@pytest.fixture()
def catalog(tmp_path):
    return BatchCatalog(root=str(tmp_path / "warehouse"))


def test_candidate_write_requires_batch_id(spark, catalog):
    df = spark.createDataFrame([(1,)], "id int")
    with pytest.raises(CatalogError, match="without a batch id"):
        catalog.write_table(df, "t1", batch_id=None)


def test_reads_resolve_through_pointer_and_candidate_isolation(spark, catalog):
    v1 = spark.createDataFrame([(1, "v1")], "id int, v string")
    catalog.write_table(v1, "t1", batch_id="b1")
    # candidate not yet promoted → production read fails (isolation)
    with pytest.raises(CatalogError, match="no production batch"):
        catalog.read_table(spark, "t1")
    catalog.promote("b1", ["t1"])
    assert catalog.read_table(spark, "t1").collect()[0]["v"] == "v1"
    # new candidate batch does not affect production until promoted
    v2 = spark.createDataFrame([(1, "v2")], "id int, v string")
    catalog.write_table(v2, "t1", batch_id="b2")
    assert catalog.read_table(spark, "t1").collect()[0]["v"] == "v1"
    catalog.promote("b2", ["t1"])
    assert catalog.read_table(spark, "t1").collect()[0]["v"] == "v2"


def test_incomplete_batch_cannot_promote_and_rollback_works(spark, catalog):
    df = spark.createDataFrame([(1,)], "id int")
    catalog.write_table(df, "t1", batch_id="b1")
    catalog.promote("b1", ["t1"])
    catalog.write_table(df, "t1", batch_id="b2")
    # b2 is missing t2 → unpromotable
    with pytest.raises(CatalogError, match="failed validation"):
        catalog.promote("b2", ["t1", "t2"])
    # failed-status table also blocks promotion
    catalog.write_table(df, "t2", batch_id="b2", status="failed")
    with pytest.raises(CatalogError, match="status='failed'"):
        catalog.promote("b2", ["t1", "t2"])
    # production pointer untouched throughout
    assert catalog.production_batch_id() == "b1"
    # rollback to a known batch re-points production
    catalog.write_table(df, "t1", batch_id="b3")
    catalog.promote("b3", ["t1"])
    catalog.rollback("b1")
    assert catalog.production_batch_id() == "b1"
    with pytest.raises(CatalogError, match="unknown batch"):
        catalog.rollback("nope")


def test_duplicate_table_in_batch_rejected(spark, catalog):
    df = spark.createDataFrame([(1,)], "id int")
    catalog.write_table(df, "t1", batch_id="b1")
    with pytest.raises(CatalogError, match="duplicate table"):
        catalog.record_table("b1", "t1", 1)


def test_merge_writer_upserts_through_pointer(spark, catalog):
    writer = MergeWriter(catalog=catalog, spark=spark)
    policy = WritePolicy(mode="upsert", primary_key=["id"])
    writer.write(spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string"),
                 "t", policy, batch_id="b1")
    catalog.promote("b1", ["t"])
    writer.write(spark.createDataFrame([(2, "b2"), (3, "c")], "id int, v string"),
                 "t", policy, batch_id="b2")
    catalog.promote("b2", ["t"])
    got = {r["id"]: r["v"] for r in catalog.read_table(spark, "t").collect()}
    assert got == {1: "a", 2: "b2", 3: "c"}


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

def test_registry_conform_and_build_order(spark):
    reg = TableRegistry.from_dict({
        "tables": {
            "gold_member_activity": {
                "columns": [{"member_code": "string"}, {"year": "int"},
                            {"speech_count": "bigint"}],
                "primary_key": ["member_code", "year"],
                "write_policy": {"mode": "upsert"},
            },
            "silver_members": {
                "columns": ["member_code", "full_name"],
                "primary_key": ["member_code"],
                "write_policy": {"mode": "snapshot_replace"},
            },
            "control_runs": {
                "columns": ["run_id"],
                "write_policy": {"mode": "append"},
            },
        }
    })
    order = [t.name for t in reg.in_build_order()]
    assert order == ["silver_members", "gold_member_activity", "control_runs"]
    td = reg["gold_member_activity"]
    df = spark.createDataFrame([("m1", "2024")], "member_code string, year string")
    out = td.conform(df)
    assert [f.name for f in out.schema.fields] == ["member_code", "year", "speech_count"]
    row = out.collect()[0]
    assert row["year"] == 2024 and row["speech_count"] is None


# ---------------------------------------------------------------------------
# DQ compiler
# ---------------------------------------------------------------------------

def test_dq_suite_single_pass(spark):
    df = spark.createDataFrame(
        [(1, "a", 5.0), (2, "", 50.0), (2, "c", -1.0)],
        "id int, name string, score double")
    results = (DQSuite()
               .min_rows(2)
               .non_null("id")
               .non_blank("name")
               .unique(["id"])
               .in_range("score", lo=0.0, hi=10.0)
               .run(df))
    by_name = {r.name: r for r in results}
    assert by_name["row_count>=2"].passed
    assert by_name["id_null_count==0"].passed
    assert not by_name["name_blank_count==0"].passed       # one blank
    assert not by_name["unique(id)"].passed                # dup id=2
    assert not by_name["score_in_range[0.0,10.0]"].passed  # -1 and 50
    assert by_name["score_in_range[0.0,10.0]"].observed == 2


def test_dq_unique_compares_typed_keys(spark):
    """unique(pk) counts rows past the first of their typed key, nulls
    equal to each other — as the write gate's key window does. Keys whose
    string parts would join to the same string are distinct."""
    df = spark.createDataFrame(
        [("a\u0001b", "c"), ("a", "b\u0001c"), (None, "x"), (None, "x")],
        "k1 string, k2 string")
    (res,) = DQSuite().unique(["k1", "k2"]).run(df)
    assert (res.name, res.observed) == ("unique(k1,k2)", 1)


def test_failed_observation_removes_landed_files(spark, catalog,
                                                 monkeypatch):
    """If the write's observed metrics cannot be read, the landed files
    are removed with the table left out of the manifest, so a retry into
    the same batch succeeds."""
    import os

    from eirepolitic_data_pipeline_spark.io import catalog as catalog_mod

    def lost(observation):
        raise CatalogError("observed metrics not reported")

    df = spark.createDataFrame([(1,), (2,)], "id int")
    monkeypatch.setattr(catalog_mod, "observed", lost)
    with pytest.raises(CatalogError, match="not reported"):
        catalog.write_table(df, "t1", batch_id="b1")
    assert not os.path.exists(catalog.batch_path("b1", "t1"))
    assert not catalog.batch_has_table("b1", "t1")
    monkeypatch.undo()
    catalog.write_table(df, "t1", batch_id="b1")
    assert catalog.table_entry("t1", batch_id="b1")["row_count"] == 2


def test_contract_and_fk_and_comparison_checks(spark):
    df = spark.createDataFrame([("a", 1), ("b", 2)], "pk string, v int")
    results = contract_checks(df, ["pk", "v"], ["pk"], min_rows=2)
    assert all(r.passed for r in results)
    child = spark.createDataFrame([("x", "p1"), ("y", "p9"), ("z", None)],
                                  "id string, parent string")
    parent = spark.createDataFrame([("p1",)], "pid string")
    fk = fk_orphan_counts(child, {"parents": parent},
                          [("parent", "parents", "pid", True)])
    assert fk[0].observed == 1  # p9 orphaned; null dropped (nullable fk)
    legacy = spark.createDataFrame([("k1",), ("k2",)], "k string")
    cand = spark.createDataFrame([("k1",), ("k2",), ("k3",)], "k string")
    gates = {r.name: r for r in comparison_gates(legacy, cand, ["k"],
                                                 max_only_keys=0,
                                                 max_row_delta_pct=10.0)}
    assert gates["legacy_only_keys"].passed
    assert not gates["candidate_only_keys"].passed  # k3 is candidate-only
    assert gates["join_coverage_pct"].observed == 100.0


def test_default_registry_loads_all_reference_tables(spark):
    from eirepolitic_data_pipeline_spark.plans.default_tables import (
        DEFAULT_TABLES_CONFIG,
    )
    reg = TableRegistry.from_dict(DEFAULT_TABLES_CONFIG)
    assert len(reg.tables) == 31
    layers = {t.layer for t in reg.tables.values()}
    assert layers == {"silver", "gold", "control"}
    # Typed schema: counts int, pct double, membership dates date.
    gy = reg.tables["gold_member_activity_yearly"]
    types = {f.name: f.dataType.simpleString() for f in gy.schema.fields}
    assert types["speech_count"] == "int"
    assert types["vote_participation_pct"] == "double"
    mm = reg.tables["silver_member_memberships"]
    mtypes = {f.name: f.dataType.simpleString() for f in mm.schema.fields}
    assert mtypes["membership_start"] == "date"
    assert mm.policy.mode == "upsert"
    assert ("member_code", "silver_members", "member_code", False) \
        in mm.policy.foreign_keys
    # Every table has a primary key and at least its pk columns declared.
    for t in reg.tables.values():
        assert t.policy.primary_key
        assert set(t.policy.primary_key) <= set(t.column_names)


def test_mismatch_review(spark):
    from eirepolitic_data_pipeline_spark.plans.quality import mismatch_review
    legacy = spark.createDataFrame(
        [("TD001", "Aoife"), ("TD002", "Brian"), ("TD003", "Cara")],
        "member_code string, full_name string")
    candidate = spark.createDataFrame(
        [("TD001", "Aoife"), ("TD002", "Brian"), ("TD004", "Dara")],
        "member_code string, full_name string")
    summary, detail = mismatch_review(legacy, candidate, ["member_code"],
                                      enrich_cols=["full_name"])
    s = summary.collect()[0]
    assert (s["matched_count"], s["legacy_only_count"],
            s["candidate_only_count"]) == (2, 1, 1)
    got = {(r["member_code"], r["side"]): r["full_name"]
           for r in detail.collect()}
    assert got == {("TD003", "legacy_only"): "Cara",
                   ("TD004", "candidate_only"): "Dara"}


def test_ever_promoted_batch_stays_immutable(spark, catalog):
    from eirepolitic_data_pipeline_spark.io.catalog import CatalogError
    import pytest as _pytest
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    catalog.write_table(df, "t1", batch_id="b1")
    catalog.promote("b1", ["t1"])
    catalog.write_table(df, "t1", batch_id="b2")
    catalog.promote("b2", ["t1"])
    # b1 is no longer production but remains a rollback target: immutable
    with _pytest.raises(CatalogError):
        catalog.write_table(df, "t1", "b1", overwrite=True)
    catalog.rollback("b1")
    assert catalog.read_table(spark, "t1").count() == 1


def test_interrupted_swap_recovers_not_garbage_collected(spark, catalog, tmp_path):
    """A crash between the swap's two renames strands the candidate at
    .__replaced; the WRITER's next touch (existence check / overwrite) must
    restore it — never fall back to production or rmtree it as stale.
    Readers deliberately do NOT heal (a reader renaming .__replaced back
    would race an in-flight swap and crash it), so a pure read of the
    crashed path fails loudly until the writer recovers."""
    import os
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    catalog.write_table(df, "t", "bx", overwrite=True)
    path = catalog.batch_path("bx", "t")
    os.rename(path, path + ".__replaced")  # simulate mid-swap crash

    # reader-side: loud failure, no healing, stranded copy untouched
    with pytest.raises(Exception):
        catalog.read_table(spark, "t", batch_id="bx").count()
    assert os.path.isdir(path + ".__replaced")

    # writer-side existence check heals
    assert catalog.candidate_table_exists("bx", "t")
    assert os.path.isdir(path) and not os.path.isdir(path + ".__replaced")
    assert catalog.read_table(spark, "t", batch_id="bx").count() == 2

    # and through an overwrite: the new write must see the restored data,
    # not silently treat the stranded dir as stale garbage
    os.rename(path, path + ".__replaced")
    df2 = spark.createDataFrame([(3, "c")], "id long, v string")
    catalog.write_table(df2, "t", "bx", overwrite=True)
    assert catalog.read_table(spark, "t", batch_id="bx").count() == 1


def test_snapshot_date_writes_hive_partitioned(spark, catalog, tmp_path):
    """MergeWriter's snapshot_date lands as a hive-style snapshot_date={d}
    layout (the reference's published key scheme), so readers prune on it."""
    import os
    from eirepolitic_data_pipeline_spark.io.writers import MergeWriter
    from eirepolitic_data_pipeline_spark.operators.merge import WritePolicy

    writer = MergeWriter(catalog=catalog, spark=spark)
    policy = WritePolicy(mode="upsert", primary_key=["id"])
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    writer.write(df, "snap_t", policy, batch_id="bs",
                 snapshot_date="2026-08-14")
    path = catalog.batch_path("bs", "snap_t")
    assert os.path.isdir(os.path.join(path, "snapshot_date=2026-08-14"))
    back = catalog.read_table(spark, "snap_t", batch_id="bs")
    assert back.count() == 2
    assert {r["snapshot_date"] for r in back.collect()} == {"2026-08-14"}
    # second refresh upserts retained history under a NEW snapshot partition
    catalog.promote("bs", ["snap_t"])
    df2 = spark.createDataFrame([(2, "b2"), (3, "c")], "id long, v string")
    writer.write(df2, "snap_t", policy, batch_id="bs2",
                 snapshot_date="2026-08-21")
    b2 = catalog.read_table(spark, "snap_t", batch_id="bs2")
    assert {r["snapshot_date"] for r in b2.collect()} == {"2026-08-21"}
    assert {(r["id"], r["v"]) for r in b2.collect()} == \
        {(1, "a"), (2, "b2"), (3, "c")}


def test_noncanonical_partition_values_roundtrip(spark, catalog):
    """Partition-value inference is defeated on catalog reads: a
    non-canonical snapshot key comes back exactly as written."""
    from pyspark.sql import functions as F
    df = spark.createDataFrame([(1,)], "id long").withColumn(
        "snapshot_date", F.lit("2026-8-1"))
    catalog.write_table(df, "nc_t", "bnc", partition_by=("snapshot_date",))
    back = catalog.read_table(spark, "nc_t", batch_id="bnc").collect()[0]
    assert back["snapshot_date"] == "2026-8-1"


def test_concurrent_record_table_keeps_every_entry(catalog):
    """Threads recording distinct tables into one batch all land, and a
    reader polling the manifest meanwhile never sees a torn file."""
    import sys
    import threading

    n_threads, per_thread = 8, 20
    errors: list = []
    stop = threading.Event()

    def record(i):
        for j in range(per_thread):
            catalog.record_table("b1", f"t{i}_{j}", row_count=j)

    def poll():
        while not stop.is_set():
            try:
                catalog.batch_tables("b1")
            except ValueError as e:     # json.JSONDecodeError
                errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        reader = threading.Thread(target=poll)
        reader.start()
        writers = [threading.Thread(target=record, args=(i,))
                   for i in range(n_threads)]
        for t in writers:
            t.start()
        for t in writers:
            t.join(timeout=60)
        stop.set()
        reader.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in [reader, *writers])
    assert not errors
    assert catalog.batch_tables("b1") == sorted(
        f"t{i}_{j}" for i in range(n_threads) for j in range(per_thread))
