"""Traced mode: spans around the program's public entry points, set from
the benchmark's own files, plus a read of the Spark event log.

A span wraps one call into a layer: it adds the call's wall time and
count to the layer's record and sets the Spark job group to the layer's
name for the call's duration (restoring the caller's group after), so
every job in the event log is attributed to the innermost layer that
launched it. Nothing is patched in an untraced run.
"""

from __future__ import annotations

import contextlib
import inspect
import json
import os
import time
from collections import defaultdict

GROUP_KEY = "spark.jobGroup.id"
#: SQL metric the Python-backed operators (mapInPandas, mapInArrow,
#: Arrow UDFs) report for time spent running the Python workers
PYTHON_TIME_METRIC = "time to run Python workers"


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.seconds = defaultdict(float)
        self.calls = defaultdict(int)
        self._undo: list = []
        self.window_ms = (0, 0)  # epoch ms of the timed rounds

    def reset(self) -> None:
        """Forget the spans recorded so far (the set-up's)."""
        self.seconds.clear()
        self.calls.clear()

    @contextlib.contextmanager
    def span(self, name: str):
        previous = self.sc.getLocalProperty(GROUP_KEY)
        self.sc.setLocalProperty(GROUP_KEY, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.seconds[name] += time.perf_counter() - t0
            self.calls[name] += 1
            self.sc.setLocalProperty(GROUP_KEY, previous)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (a module function or a class method) by
        a spanned twin until ``restore``."""
        original = getattr(owner, attr)
        setattr(owner, attr, self.wrap_callable(original, name))
        self.on_restore(setattr, owner, attr, original)

    def wrap_callable(self, fn, name: str):
        """A spanned twin of ``fn``, also for call sites that hold the
        function in a data structure (builder registries)."""
        tracer = self

        def spanned(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        spanned.__wrapped__ = fn
        # keep the signature visible to callers that introspect it
        spanned.__signature__ = inspect.signature(fn)
        return spanned

    def on_restore(self, fn, *args) -> None:
        self._undo.append((fn, args))

    def restore(self) -> None:
        for fn, args in reversed(self._undo):
            fn(*args)
        self._undo.clear()


def event_log_conf(log_dir: str) -> dict:
    os.makedirs(log_dir, exist_ok=True)
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false"}


def _acc(stage_info: dict, name: str) -> float:
    for acc in stage_info.get("Accumulables", []):
        if acc.get("Name") == name:
            try:
                return float(acc.get("Value") or 0)
            except (TypeError, ValueError):
                return 0.0
    return 0.0


def read_event_log(log_dir: str) -> dict:
    """Per-job records from the (stopped) application's event log:
    ``{job_id: {"group", "stages": [...]}}`` and per-stage task metrics."""
    files = [os.path.join(log_dir, f) for f in sorted(os.listdir(log_dir))
             if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, "
                           f"found {files}")
    jobs, stages = {}, {}
    with open(files[0], encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "submitted_ms": ev.get("Submission Time", 0),
                    "group": props.get(GROUP_KEY) or "",
                    "stages": [s["Stage ID"] for s in ev["Stage Infos"]]}
            elif kind == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                if "Completion Time" not in si:
                    continue
                stages[si["Stage ID"]] = {
                    "tasks": si["Number of Tasks"],
                    "run_s": _acc(si, "internal.metrics.executorRunTime")
                    / 1e3,
                    "shuffle_write_bytes": _acc(
                        si, "internal.metrics.shuffle.write.bytesWritten"),
                    "python_ms": _acc(si, PYTHON_TIME_METRIC),
                }
    return {"jobs": jobs, "stages": stages}


def summarize(log: dict, window_ms: tuple) -> dict:
    """Totals over the jobs submitted inside ``window_ms`` (epoch ms, the
    timed rounds), and their counts per job group."""
    lo, hi = window_ms
    jobs = {j: v for j, v in log["jobs"].items()
            if lo <= v["submitted_ms"] <= hi}
    ran = [log["stages"][s] for s in sorted(
        {s for v in jobs.values() for s in v["stages"]})
        if s in log["stages"]]
    by_group = defaultdict(int)
    for job in jobs.values():
        by_group[job["group"]] += 1
    return {
        "jobs": len(jobs),
        "stages": len(ran),
        "tasks": sum(s["tasks"] for s in ran),
        "shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in ran),
        "executor_run_s": sum(s["run_s"] for s in ran),
        "python_udf_s": sum(s["python_ms"] for s in ran) / 1e3,
        "jobs_by_group": dict(by_group),
    }
