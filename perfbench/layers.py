"""The per-layer record of a traced run: which public functions are
spanned, and how the spans and the event log become the named metrics
listed in ``BENCHMARK.json``."""

from __future__ import annotations

import sys
import time

from spans import GROUP_KEY

import wl_queries

CURATION_STAGES = ("quality_gate", "line_dedup", "exact_dedup", "near_dup",
                   "split")

#: spanned layers with a time and call count; each name is also the Spark
#: job group its calls run under
TIMED_LAYERS = ("jobs.run_refresh", "jobs.build_table", "tables.build",
                "plans.dq", "io.merge_write", "io.catalog_read",
                "io.promote", "jobs.curate", "io.atomic_write",
                "io.atomic_swap")


def calls_name(prefix: str) -> str:
    return ("io.catalog_reads" if prefix == "io.catalog_read"
            else f"{prefix}_calls")


def metric_units() -> dict:
    """Every per-layer metric name -> unit, in a fixed order."""
    units = {}
    for prefix in TIMED_LAYERS:
        units[f"{prefix}_s"] = "s"
        units[calls_name(prefix)] = "count"
        units[f"{prefix}_jobs"] = "count"
    units["jobs.curate.report_jobs"] = "count"
    units["io.bytes_written"] = "bytes"
    for q in wl_queries.QUERY_MIX:
        units[f"workload.build_s.{q}"] = "s"
        units[f"workload.exec_s.{q}"] = "s"
    units["workload.build_jobs"] = "count"
    units["workload.exec_jobs"] = "count"
    for p in wl_queries.PHASES:
        units[f"catalyst.{p}_s"] = "s"
    for st in CURATION_STAGES:
        units[f"operators.curation.stage_s.{st}"] = "s"
        units[f"operators.curation.stage_rows.{st}"] = "count"
    units["operators.curation_jobs"] = "count"
    units["python.udf_s"] = "s"
    for k, u in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                 ("shuffle_write_bytes", "bytes"),
                 ("executor_run_s", "s"), ("unattributed_jobs", "count")):
        units[f"spark.{k}"] = u
    units["spark.codegen_compiles"] = "count"
    units["jvm.jit_s"] = "s"
    units["jvm.gc_s"] = "s"
    units["trace.round_s"] = "s"
    return units


def install(tracer) -> None:
    """Span every layer's public entry points (restored by
    ``tracer.restore``)."""
    import eirepolitic_data_pipeline_spark.tables as tables_pkg
    from eirepolitic_data_pipeline_spark.io import catalog as catalog_mod
    from eirepolitic_data_pipeline_spark.io import writers
    from eirepolitic_data_pipeline_spark.jobs import build_table as bt
    from eirepolitic_data_pipeline_spark.jobs import curate as curate_mod
    from eirepolitic_data_pipeline_spark.jobs import run_refresh as rr
    from eirepolitic_data_pipeline_spark.plans import quality
    try:
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:  # Spark 3: one DataFrame class
        from pyspark.sql import DataFrame

    tracer.wrap(rr, "run_refresh", "jobs.run_refresh")
    tracer.wrap(rr, "build_table", "jobs.build_table")
    for registry in (bt.SILVER_BUILDERS, bt.GOLD_BUILDERS):
        for table, entry in list(registry.items()):
            registry[table] = (tracer.wrap_callable(entry[0], "tables.build"),
                               *entry[1:])
            tracer.on_restore(registry.__setitem__, table, entry)
    tracer.wrap(tables_pkg, "silver_speeches", "tables.build")
    tracer.wrap(quality.DQSuite, "run", "plans.dq")
    tracer.wrap(writers.MergeWriter, "write", "io.merge_write")
    tracer.wrap(bt, "_read_input_or_none", "io.catalog_read")
    tracer.wrap(catalog_mod.BatchCatalog, "promote", "io.promote")
    tracer.wrap(curate_mod, "run_curate", "jobs.curate")
    tracer.wrap(curate_mod, "_atomic_parquet_write", "io.atomic_write")
    tracer.wrap(curate_mod, "swap_in", "io.atomic_swap")

    # run_curate's own per-stage counts are its report's cost
    report_code = curate_mod.run_curate.__wrapped__.__code__
    count = DataFrame.count

    def counted(self):
        if sys._getframe(1).f_code is report_code:
            with tracer.span("jobs.curate.report"):
                return count(self)
        return count(self)

    DataFrame.count = counted
    tracer.on_restore(setattr, DataFrame, "count", count)

    # curation stages: the i-th resume of the stage generator builds
    # CURATION_STAGES[i]; its window lasts until the next resume, so it
    # holds the stage's construction jobs and the consumer's count
    stages = curate_mod.curate_corpus_stages

    def staged(*args, **kwargs):
        sc = tracer.sc
        outer = sc.getLocalProperty(GROUP_KEY)
        gen = stages(*args, **kwargs)
        names = [s for s in CURATION_STAGES if s != "split"]
        if kwargs.get("benchmark") is not None:
            names.append("decontaminate")
        names.append("split")
        try:
            for name in names:
                group = f"operators.curation.{name}"
                sc.setLocalProperty(GROUP_KEY, group)
                t0 = time.perf_counter()
                try:
                    item = next(gen)
                except StopIteration:
                    return
                yield item
                tracer.seconds[group] += time.perf_counter() - t0
                tracer.calls[group] += 1
        finally:
            sc.setLocalProperty(GROUP_KEY, outer)

    curate_mod.curate_corpus_stages = staged
    tracer.on_restore(setattr, curate_mod, "curate_corpus_stages", stages)


def metrics(tracer, log_summary: dict, outcome: dict) -> dict:
    """The per-layer metrics of one traced run, per timed round."""
    n = max(1, len(outcome["rounds"]))
    jobs = log_summary["jobs_by_group"]
    out = {name: 0.0 for name in metric_units()}
    for layer in TIMED_LAYERS:
        out[f"{layer}_s"] = tracer.seconds.get(layer, 0.0) / n
        out[calls_name(layer)] = tracer.calls.get(layer, 0) / n
        out[f"{layer}_jobs"] = jobs.get(layer, 0) / n
    out["jobs.curate.report_jobs"] = jobs.get("jobs.curate.report", 0) / n
    out["io.bytes_written"] = float(outcome.get("bytes_written", 0))
    for q, rec in outcome.get("per_query", {}).items():
        if rec["build_s"]:
            out[f"workload.build_s.{q}"] = sum(rec["build_s"]) / n
            out[f"workload.exec_s.{q}"] = sum(rec["exec_s"]) / n
    out["workload.build_jobs"] = sum(
        v for g, v in jobs.items() if g.startswith("workload.build.")) / n
    out["workload.exec_jobs"] = sum(
        v for g, v in jobs.items() if g.startswith("workload.exec.")) / n
    for p, v in outcome.get("phases_s", {}).items():
        out[f"catalyst.{p}_s"] = v
    stage_rows = {s["stage"]: s["rows"]
                  for s in outcome.get("summary", {}).get("stages", [])}
    if outcome.get("summary"):
        stage_rows["split"] = outcome["summary"].get("output_rows", 0)
    for st in CURATION_STAGES:
        group = f"operators.curation.{st}"
        out[f"operators.curation.stage_s.{st}"] = \
            tracer.seconds.get(group, 0.0) / n
        out[f"operators.curation.stage_rows.{st}"] = stage_rows.get(st, 0)
    out["operators.curation_jobs"] = sum(
        v for g, v in jobs.items()
        if g.startswith("operators.curation.")) / n
    out["python.udf_s"] = log_summary["python_udf_s"] / n
    for k in ("jobs", "stages", "tasks", "shuffle_write_bytes",
              "executor_run_s"):
        out[f"spark.{k}"] = log_summary[k] / n
    out["spark.unattributed_jobs"] = jobs.get("", 0) / n
    jvm = outcome.get("jvm", {})
    out["spark.codegen_compiles"] = jvm.get("codegen_compiles", 0) / n
    out["jvm.jit_s"] = jvm.get("jit_s", 0.0) / n
    out["jvm.gc_s"] = jvm.get("gc_s", 0.0) / n
    out["trace.round_s"] = outcome["round_s"]
    units = metric_units()
    return {k: out[k] for k in units}
