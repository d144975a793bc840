"""Merge/write-policy semantics — ports the *behavior* pinned by the
reference's tests (tests/test_oireachtas_write_semantics.py,
test_oireachtas_business_key_merge.py — see SURVEY §5) onto the Spark
MergeWriter."""

from __future__ import annotations

import pytest

from eirepolitic_data_pipeline_spark.operators import WritePolicy, merge_for_policy


def rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def upsert_policy():
    return WritePolicy(mode="upsert", primary_key=["id"], business_key=["bk"])


def test_upsert_incoming_wins_on_pk(spark):
    existing = spark.createDataFrame(
        [("a", "k1", "old"), ("b", "k2", "keep")], "id string, bk string, val string")
    incoming = spark.createDataFrame(
        [("a", "k1", "new")], "id string, bk string, val string")
    policy = WritePolicy(mode="upsert", primary_key=["id"])
    out = merge_for_policy(existing, incoming, policy)
    assert rows(out) == [("a", "k1", "new"), ("b", "k2", "keep")]


def test_upsert_business_key_drops_legacy_duplicate(spark):
    # reference: a legacy row with a different PK but same business key is
    # superseded by the incoming row (business-key dedupe, incoming first)
    existing = spark.createDataFrame(
        [("legacy-1", "bk-A", "old")], "id string, bk string, val string")
    incoming = spark.createDataFrame(
        [("new-9", "bk-A", "new")], "id string, bk string, val string")
    policy = WritePolicy(mode="upsert", primary_key=["id"], business_key=["bk"])
    out = merge_for_policy(existing, incoming, policy)
    assert rows(out) == [("new-9", "bk-A", "new")]


def test_upsert_distinct_pks_retained_without_business_key_conflict(spark):
    existing = spark.createDataFrame(
        [("a", "bk-1", "x")], "id string, bk string, val string")
    incoming = spark.createDataFrame(
        [("b", "bk-2", "y")], "id string, bk string, val string")
    policy = WritePolicy(mode="upsert", primary_key=["id"], business_key=["bk"])
    out = merge_for_policy(existing, incoming, policy)
    assert rows(out) == [("a", "bk-1", "x"), ("b", "bk-2", "y")]


def test_upsert_preserves_history_across_overlapping_windows(spark):
    # overlapping incremental windows re-deliver rows; history must be
    # preserved + updated, not truncated (reference overlap-window test)
    week1 = spark.createDataFrame(
        [("e1", "2026-01-05", 1.0), ("e2", "2026-01-06", 2.0)],
        "id string, d string, v double")
    week2 = spark.createDataFrame(
        [("e2", "2026-01-06", 2.5), ("e3", "2026-01-12", 3.0)],
        "id string, d string, v double")
    policy = WritePolicy(mode="upsert", primary_key=["id"])
    out = merge_for_policy(week1, week2, policy)
    assert rows(out) == [("e1", "2026-01-05", 1.0), ("e2", "2026-01-06", 2.5),
                         ("e3", "2026-01-12", 3.0)]


def test_snapshot_replace_drops_missing_rows(spark):
    existing = spark.createDataFrame([("a", 1), ("b", 2)], "id string, v int")
    incoming = spark.createDataFrame([("a", 10)], "id string, v int")
    policy = WritePolicy(mode="snapshot_replace", primary_key=["id"])
    out = merge_for_policy(existing, incoming, policy)
    assert rows(out) == [("a", 10)]


def test_append_keeps_everything(spark):
    existing = spark.createDataFrame([("a", 1)], "id string, v int")
    incoming = spark.createDataFrame([("a", 2)], "id string, v int")
    policy = WritePolicy(mode="append", primary_key=["id"])
    out = merge_for_policy(existing, incoming, policy)
    assert rows(out) == [("a", 1), ("a", 2)]


def test_first_write_with_none_existing(spark, upsert_policy):
    incoming = spark.createDataFrame([("a", "k", "v")], "id string, bk string, val string")
    out = merge_for_policy(None, incoming, upsert_policy)
    assert rows(out) == [("a", "k", "v")]


def test_union_tolerates_missing_columns(spark):
    existing = spark.createDataFrame([("a", 1)], "id string, v int")
    incoming = spark.createDataFrame([("b", "extra")], "id string, note string")
    policy = WritePolicy(mode="upsert", primary_key=["id"])
    out = merge_for_policy(existing, incoming, policy)
    got = {r["id"]: (r["v"], r["note"]) for r in out.collect()}
    assert got == {"a": (1, None), "b": (None, "extra")}


def test_unknown_mode_rejected():
    with pytest.raises(ValueError):
        WritePolicy(mode="merge_into", primary_key=["id"])


def test_upsert_requires_pk():
    with pytest.raises(ValueError):
        WritePolicy(mode="upsert")


@pytest.mark.parametrize("mode, with_history", [
    ("snapshot_replace", True), ("rebuild", False), ("upsert", False),
    ("upsert", True), ("append", True), ("upsert-antijoin", True)])
def test_gate_observes_incoming_rows_only(spark, mode, with_history):
    """The merge's gate observation counts the INCOMING batch only —
    history rows never add to the row, duplicate-key or blank-key counts
    — whichever policy (and merge form) runs. Duplicates are rows ranked
    past the first of their typed key."""
    from pyspark.sql import Observation

    from eirepolitic_data_pipeline_spark.operators.merge import (
        merge_upsert_antijoin)

    schema = "id long, code string, val string"
    existing = spark.createDataFrame(
        [(1, "a", "old"), (1, "a", "older"), (9, " ", "old")], schema) \
        if with_history else None
    incoming = spark.createDataFrame(
        [(1, "a", "x"), (1, "a", "y"), (2, "", "z"), (3, None, "w")], schema)
    gate = Observation()
    if mode == "upsert-antijoin":
        out = merge_upsert_antijoin(
            existing, incoming, WritePolicy(mode="upsert",
                                            primary_key=["code", "id"]),
            gate)
    else:
        out = merge_for_policy(
            existing, incoming, WritePolicy(mode=mode,
                                            primary_key=["code", "id"]),
            gate)
    out.collect()
    assert gate.get == {"incoming_rows": 4, "duplicate_key_rows": 1,
                        "blank_leading_key_rows": 2}

