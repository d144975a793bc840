"""Crash-simulation tests for the durability-critical write path: the
atomic-swap overwrite (io/atomic.py), the accumulating MergeWriter
(io/writers.py), and streaming epoch replay (streaming/jobs.py).

Each test drives the writer to a specific interruption point — between
the temp write and the swap, between the swap's two renames, between the
swap and the manifest update — by monkeypatching the next step to raise
(the process-level analog of a kill), then asserts the recovery contract:
the previous copy stays readable, the next writer touch heals, and a
replayed epoch is absorbed idempotently.
"""

from __future__ import annotations

import os
import shutil

import pytest

from eirepolitic_data_pipeline_spark.io import atomic
from eirepolitic_data_pipeline_spark.io.catalog import BatchCatalog
from eirepolitic_data_pipeline_spark.io.writers import MergeWriter
from eirepolitic_data_pipeline_spark.operators.merge import WritePolicy


@pytest.fixture()
def catalog(tmp_path):
    return BatchCatalog(root=str(tmp_path / "warehouse"))


POLICY = WritePolicy(mode="upsert", primary_key=["id"])


def _rows(spark, catalog, table, batch_id):
    return {r["id"]: r["v"] for r in
            catalog.read_table(spark, table, batch_id=batch_id).collect()}


def _write_epoch(spark, catalog, rows, table="t", batch_id="b1"):
    df = spark.createDataFrame(rows, "id int, v string")
    MergeWriter(catalog=catalog, spark=spark).write(
        df, table, POLICY, batch_id=batch_id, accumulate=True)


def test_crash_between_temp_write_and_swap(spark, catalog, monkeypatch):
    """Kill after the replacement parquet landed in `.__incoming` but
    before swap_in: the live table is untouched, and the next accumulate
    clears the stale incoming dir and merges against the intact state."""
    _write_epoch(spark, catalog, [(1, "a"), (2, "b")])

    real_swap = atomic.swap_in
    monkeypatch.setattr(atomic, "swap_in",
                        lambda path: (_ for _ in ()).throw(
                            OSError("killed before swap")))
    with pytest.raises(OSError, match="killed before swap"):
        _write_epoch(spark, catalog, [(2, "B"), (3, "c")])

    path = catalog.batch_path("b1", "t")
    assert os.path.isdir(path + atomic.INCOMING_SUFFIX)  # orphaned temp
    # previous copy is live and readable
    assert _rows(spark, catalog, "t", "b1") == {1: "a", 2: "b"}

    monkeypatch.setattr(atomic, "swap_in", real_swap)
    _write_epoch(spark, catalog, [(2, "B"), (3, "c")])
    assert _rows(spark, catalog, "t", "b1") == {1: "a", 2: "B", 3: "c"}
    assert not os.path.isdir(path + atomic.INCOMING_SUFFIX)


def test_crash_between_the_swaps_two_renames(spark, catalog):
    """Kill after rename(live -> .__replaced) but before
    rename(.__incoming -> live): the sole committed copy sits at the FIXED
    `.__replaced` suffix. The writer's next touch must heal it back before
    anything else runs, and the following merge sees the restored state."""
    _write_epoch(spark, catalog, [(1, "a"), (2, "b")])
    path = catalog.batch_path("b1", "t")

    # manufacture the mid-swap state the real swap passes through:
    # incoming written, live renamed away, second rename never happened
    shutil.copytree(path, path + atomic.INCOMING_SUFFIX)
    os.rename(path, path + atomic.REPLACED_SUFFIX)
    assert not os.path.isdir(path)

    # writer-side existence check heals (candidate_table_exists contract)
    assert catalog.candidate_table_exists("b1", "t")
    assert os.path.isdir(path)
    assert not os.path.isdir(path + atomic.REPLACED_SUFFIX)
    assert _rows(spark, catalog, "t", "b1") == {1: "a", 2: "b"}

    _write_epoch(spark, catalog, [(3, "c")])
    assert _rows(spark, catalog, "t", "b1") == {1: "a", 2: "b", 3: "c"}


def test_crash_after_second_rename_before_cleanup(spark, catalog):
    """Kill after both renames but before rmtree(.__replaced): the NEW
    data is live; the stale backup must be cleared by the next writer
    touch, never healed over the newer live copy."""
    _write_epoch(spark, catalog, [(1, "a")])
    path = catalog.batch_path("b1", "t")
    shutil.copytree(path, path + atomic.REPLACED_SUFFIX)  # stale backup

    assert catalog.candidate_table_exists("b1", "t")
    # heal is a no-op while the live dir exists (one-sided by design)
    assert os.path.isdir(path)

    _write_epoch(spark, catalog, [(2, "b")])
    assert _rows(spark, catalog, "t", "b1") == {1: "a", 2: "b"}
    assert not os.path.isdir(path + atomic.REPLACED_SUFFIX)
    assert not os.path.isdir(path + atomic.INCOMING_SUFFIX)


def test_crash_between_swap_and_manifest_update(spark, catalog, monkeypatch):
    """Kill after the data swap committed but before the manifest row was
    recorded: the on-disk table already holds the merge, and the next
    epoch re-merges idempotently and brings the manifest back in step."""
    _write_epoch(spark, catalog, [(1, "a")])

    real_record = BatchCatalog.record_table
    monkeypatch.setattr(BatchCatalog, "record_table",
                        lambda *a, **k: (_ for _ in ()).throw(
                            OSError("killed before manifest")))
    with pytest.raises(OSError, match="killed before manifest"):
        _write_epoch(spark, catalog, [(2, "b")])
    monkeypatch.setattr(BatchCatalog, "record_table", real_record)

    # data committed despite the crash; manifest still shows epoch 1
    assert _rows(spark, catalog, "t", "b1") == {1: "a", 2: "b"}
    assert catalog._load_manifest("b1")["tables"]["t"]["row_count"] == 1

    # replay of the SAME epoch (checkpoint redelivery) is absorbed
    # idempotently and the manifest catches up with the committed state
    _write_epoch(spark, catalog, [(2, "b")])
    assert _rows(spark, catalog, "t", "b1") == {1: "a", 2: "b"}
    assert catalog._load_manifest("b1")["tables"]["t"]["row_count"] == 2


def test_streaming_epoch_replay_is_idempotent(spark, catalog):
    """foreachBatch redelivers a failed epoch from the checkpoint: applying
    the same micro-batch twice (and then out of order with an older value)
    must leave exactly the keyed-merge result, never duplicates."""
    _write_epoch(spark, catalog, [(1, "a"), (2, "b")])
    for _ in range(2):  # exact replay
        _write_epoch(spark, catalog, [(2, "B"), (3, "c")])
        assert _rows(spark, catalog, "t", "b1") == {1: "a", 2: "B", 3: "c"}
    df = catalog.read_table(spark, "t", batch_id="b1")
    assert df.count() == df.select("id").distinct().count() == 3
