"""run_refresh as a table DAG: tables whose inputs are done build at the
same time, yet the batch and the control rows equal a sequential run's,
and a failed input fails its dependents without building them."""

from __future__ import annotations

import threading
from collections import Counter
from datetime import date

import pytest

from eirepolitic_data_pipeline_spark.io.catalog import BatchCatalog, CatalogError
from eirepolitic_data_pipeline_spark.io.writers import MergeWriter
from eirepolitic_data_pipeline_spark.jobs import run_refresh as rr
from eirepolitic_data_pipeline_spark.jobs.build_table import build_table
from eirepolitic_data_pipeline_spark.plans.default_tables import (
    DEFAULT_TABLES_CONFIG)
from eirepolitic_data_pipeline_spark.plans.registry import TableRegistry
from tests.test_build_table import raw_root  # noqa: F401 — fixture reuse

AS_OF = date(2026, 8, 13)
#: the benchmark's weekly slice: three independent silver tables, then a
#: gold chain over them
DATA = ["silver_members", "silver_member_memberships", "silver_member_votes",
        "gold_current_members", "gold_member_activity_yearly"]
TABLES = DATA + list(rr.CONTROL_TABLES)
TIMESTAMPS = {"started_at_utc", "finished_at_utc", "updated_at_utc",
              "created_at_utc"}


def _spy_builds(monkeypatch, fail: str = ""):
    """Wrap run_refresh's build_table: log start/finish events and the
    most builds in flight at once; raise for ``fail`` instead of building."""
    lock = threading.Lock()
    log = {"events": [], "in_flight": 0, "max_in_flight": 0}
    real = rr.build_table

    def spy(spark, catalog, registry, table, **kw):
        with lock:
            log["events"].append(("start", table))
            log["in_flight"] += 1
            log["max_in_flight"] = max(log["max_in_flight"],
                                       log["in_flight"])
        try:
            if table == fail:
                raise RuntimeError("injected failure")
            return real(spark, catalog, registry, table, **kw)
        finally:
            with lock:
                log["in_flight"] -= 1
                log["events"].append(("finish", table))

    monkeypatch.setattr(rr, "build_table", spy)
    return log


def _spy_control_rows(monkeypatch) -> dict:
    """Capture the rows each control-table write is handed, in order,
    without their timestamps and with the warehouse root blanked."""
    got = {}
    real = MergeWriter.write

    def spy(self, incoming, table, *a, **kw):
        if table in rr.CONTROL_TABLES:
            root = self.catalog.root
            got[table] = [{k: v.replace(root, "<root>")
                           if isinstance(v, str) else v
                           for k, v in r.asDict().items()
                           if k not in TIMESTAMPS}
                          for r in incoming.collect()]
        return real(self, incoming, table, *a, **kw)

    monkeypatch.setattr(MergeWriter, "write", spy)
    return got


def _rows(spark, catalog, table, batch_id) -> Counter:
    return Counter(tuple(r) for r in catalog.read_table(
        spark, table, batch_id=batch_id).collect())


def test_dag_run_matches_sequential_builds(spark, tmp_path, raw_root,  # noqa: F811
                                           monkeypatch):
    registry = TableRegistry.from_dict(DEFAULT_TABLES_CONFIG)
    dag = BatchCatalog(root=str(tmp_path / "dag"))
    log = _spy_builds(monkeypatch)
    control = _spy_control_rows(monkeypatch)
    res = rr.run_refresh(spark, dag, registry, "weekly", as_of=AS_OF,
                         batch_id="w1", raw_root=raw_root, tables=TABLES)
    assert not res.failed and res.promoted
    assert list(res.built) == TABLES
    # independent tables overlapped; each gold table started only after
    # every input this run builds had finished
    assert log["max_in_flight"] >= 2
    ev = log["events"]
    for table in ("gold_current_members", "gold_member_activity_yearly"):
        for dep in rr._in_run_inputs(DATA)[table]:
            assert ev.index(("finish", dep)) < ev.index(("start", table))

    # every data table holds exactly what build_table run one table after
    # another writes into a batch of its own
    seq = BatchCatalog(root=str(tmp_path / "seq"))
    monkeypatch.undo()
    for table in DATA:
        built = build_table(spark, seq, registry, table, batch_id="s1",
                            raw_root=raw_root, snapshot_date=AS_OF.isoformat())
        assert built.row_count == res.built[table]
        assert _rows(spark, dag, table, "w1") == \
            _rows(spark, seq, table, "s1"), table

    # the control rows equal a one-at-a-time run's, in declared order
    runs = [r["table_name"] for r in control["control_pipeline_runs"]]
    assert runs == DATA
    manifests = [r["table_name"] for r in control["control_table_manifests"]]
    assert manifests == DATA
    dq_tables = [r["table_name"]
                 for r in control["control_data_quality_results"]]
    assert dq_tables == sorted(dq_tables, key=DATA.index)
    serial = _spy_control_rows(monkeypatch)
    monkeypatch.setattr(rr, "DAG_WIDTH", 1)
    res1 = rr.run_refresh(spark, BatchCatalog(root=str(tmp_path / "one")),
                          registry, "weekly", as_of=AS_OF, batch_id="w1",
                          raw_root=raw_root, tables=TABLES)
    assert res1.built == res.built
    for name in rr.CONTROL_TABLES:
        assert control[name] == serial[name], name


def test_failed_input_fails_dependents_unbuilt(spark, tmp_path, raw_root,  # noqa: F811
                                               monkeypatch):
    registry = TableRegistry.from_dict(DEFAULT_TABLES_CONFIG)
    catalog = BatchCatalog(root=str(tmp_path / "wh"))
    log = _spy_builds(monkeypatch, fail="silver_member_memberships")
    with pytest.raises(CatalogError, match="unpromoted"):
        rr.run_refresh(spark, catalog, registry, "weekly", as_of=AS_OF,
                       batch_id="w1", raw_root=raw_root, tables=TABLES)
    assert catalog.production_batch_id() is None
    # the gold chain never reached build_table; the other silver tables did
    started = {t for kind, t in log["events"] if kind == "start"}
    assert started == {"silver_members", "silver_member_memberships",
                       "silver_member_votes"}
    assert set(catalog.batch_tables("w1")) == {
        "silver_members", "silver_member_votes", *rr.CONTROL_TABLES}
    runs = {r["table_name"]: (r["status"], r["error_message"])
            for r in catalog.read_table(spark, "control_pipeline_runs",
                                        batch_id="w1").collect()}
    assert runs == {
        "silver_members": ("success", ""),
        "silver_member_memberships": ("failed", "injected failure"),
        "silver_member_votes": ("success", ""),
        "gold_current_members": (
            "failed", "input silver_member_memberships failed"),
        "gold_member_activity_yearly": (
            "failed", "input gold_current_members failed"),
    }
