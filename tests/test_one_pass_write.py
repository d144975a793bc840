"""One pass per table on the build_table write path: each raw payload page
is parsed once per build, and each build launches a bounded number of
Spark jobs — the DQ gate and the committed row count ride on the write
job as observed metrics, and every re-read of the engine's own tables
passes its known schema instead of running a schema-inference job.

The three merge forms are each pinned: snapshot_replace (silver_members),
the upsert window over retained history (silver_member_memberships) and
the upsert anti-join fast path over bucketed history
(silver_member_votes)."""

from __future__ import annotations

import uuid

import pytest

from eirepolitic_data_pipeline_spark.io import writers
from eirepolitic_data_pipeline_spark.io.catalog import BatchCatalog
from eirepolitic_data_pipeline_spark.jobs.build_table import build_table
from eirepolitic_data_pipeline_spark.plans.default_tables import (
    DEFAULT_TABLES_CONFIG)
from eirepolitic_data_pipeline_spark.plans.registry import TableRegistry
from eirepolitic_data_pipeline_spark.tables import silver
from tests.test_build_table import SNAP, TODAY, raw_root  # noqa: F401

#: Spark jobs one week-2 build launches, per merge form, as measured on
#: the fixture's one-page raw files (local[4], AQE on): the AQE shuffle
#: stages of the builder's dedupe and the merge, the write itself and, on
#: the fast path, the null-key probe of the pinned delta. The same builds
#: took 11, 12 and 16 jobs (and parsed each page 2, 2 and 4 times) while
#: the DQ gate ran as its own aggregate and the written files were
#: re-read for their schema and row count.
JOB_BUDGET = {
    "silver_members": 2,              # snapshot_replace
    "silver_member_memberships": 3,   # upsert window over history
    "silver_member_votes": 5,         # upsert anti-join over history
}


@pytest.fixture()
def parse_log(tmp_path, monkeypatch):
    """Every payload parse of a silver builder appends one line to a file
    (the parse runs in Python workers, so a driver-side counter would not
    see it)."""
    log = tmp_path / "parses.log"
    log.write_text("")
    flatten = silver._flatten_stage

    def counting(df, json_col, columns, per_payload):
        path = str(log)

        def counted(payload):
            with open(path, "a") as fh:
                fh.write("parse\n")
            return per_payload(payload)

        return flatten(df, json_col, columns, counted)

    monkeypatch.setattr(silver, "_flatten_stage", counting)
    return log


def _build_counted(spark, catalog, registry, table, raw_root, batch_id,
                   log):
    """(parses, jobs) of one full build of ``table``."""
    sc = spark.sparkContext
    group = f"one-pass-{table}-{uuid.uuid4().hex[:8]}"
    log.write_text("")
    sc.setJobGroup(group, table)
    try:
        build_table(spark, catalog, registry, table, batch_id=batch_id,
                    raw_root=raw_root, mode="full", snapshot_date=SNAP,
                    today=TODAY)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    parses = len(log.read_text().splitlines())
    return parses, len(sc.statusTracker().getJobIdsForGroup(group))


def test_one_parse_per_page_and_job_budget(spark, tmp_path, raw_root,  # noqa: F811
                                           parse_log, monkeypatch):
    registry = TableRegistry.from_dict(DEFAULT_TABLES_CONFIG)
    catalog = BatchCatalog(root=str(tmp_path / "wh"))
    antijoin_calls = []
    antijoin = writers.merge_upsert_antijoin

    def spy(*a, **k):
        antijoin_calls.append(1)
        return antijoin(*a, **k)

    monkeypatch.setattr(writers, "merge_upsert_antijoin", spy)

    tables = list(JOB_BUDGET)
    for t in tables:                      # week 1: history for week 2
        build_table(spark, catalog, registry, t, batch_id="b1",
                    raw_root=raw_root, mode="full", snapshot_date=SNAP,
                    today=TODAY)
    catalog.promote("b1", tables)
    assert not antijoin_calls

    got = {t: _build_counted(spark, catalog, registry, t, raw_root, "b2",
                             parse_log) for t in tables}
    # the raw fixture holds one payload page per source file
    assert {t: p for t, (p, _) in got.items()} == {t: 1 for t in tables}
    assert {t: j for t, (_, j) in got.items()} == JOB_BUDGET
    assert len(antijoin_calls) == 1       # silver_member_votes took it
