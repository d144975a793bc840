"""``query_mix``: the steady-state read path over registered queries,
then the curation chain with its write.

One pass builds every query fresh from ``workload.QUERIES[name].fn``
after one ``tune_session`` (not through the plan memo of
``workload.queries()``), so every query pays plan construction and
execution alike, then runs ``run_curate(..., report=True)`` once. The
untimed warm-up pass collects every query result, which is then checked
against DuckDB over the same parquet files; the timed passes execute the
queries into the noop sink.
"""

from __future__ import annotations

import datetime
import math
import os
import time

import gen_star
from wl_curate import Curation

#: queries from every family but the marts (weekly_refresh builds those):
#: relational and window, an Oireachtas-shaped DQ report, text and dedup,
#: vector serving
QUERY_MIX = (
    "q01_pricing_summary", "q13_dense_rank_suppliers",
    "q14_topn_customers_per_nation", "q68_tally_integrity_report",
    "q22_exact_dedup_fingerprint", "q61_line_dedup_boilerplate",
    "q26_knn_bruteforce",
)
#: queries that disagree with the oracle on every seed because of a known
#: fault in the program: counted as failed operations, not as a wrong run
KNOWN_FAULTS = {
    # round(sum(double), 2) on a half-cent boundary rounds up in Spark and
    # down in DuckDB; gen_star plants such a group in every dataset
    "q13_dense_rank_suppliers",
}
PHASES = ("analysis", "optimization", "planning")


def _to_py(v):
    import numpy as np
    import pandas as pd
    if v is None:
        return None
    if isinstance(v, np.integer):
        return int(v)
    if isinstance(v, np.floating):
        f = float(v)
        return None if math.isnan(f) else f
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime()
    return v


def canon(v) -> str:
    """Order- and engine-independent text of one value (floats to 9
    decimals, dates and timestamps as ISO strings)."""
    v = _to_py(v)
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return repr(round(v, 9))
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return repr(v)


def compare(spark_cols, spark_rows, oracle_cols, oracle_rows) -> str:
    """'' when the two results agree on columns, row count and value
    multiset; else a one-line reason."""
    if sorted(spark_cols) != sorted(oracle_cols):
        return f"columns {sorted(spark_cols)} != {sorted(oracle_cols)}"
    if len(spark_rows) != len(oracle_rows):
        return f"{len(spark_rows)} rows, oracle {len(oracle_rows)}"
    s, o = sorted(spark_rows), sorted(oracle_rows)
    if s != o:
        diff = [(a, b) for a, b in zip(s, o) if a != b][:2]
        return f"values differ, first: {diff}"
    return ""


def oracle_rows(con, sql: str):
    df = con.execute(sql).fetch_df()
    cols = sorted(df.columns.tolist())
    return cols, [tuple(canon(v) for v in row)
                  for row in df[cols].itertuples(index=False, name=None)]


def run(ctx) -> dict:
    import duckdb
    from eirepolitic_data_pipeline_spark.workload import (
        QUERIES, tune_session)

    data = os.path.join(ctx.work, "star")
    with ctx.generating():
        stats = gen_star.generate(data, ctx.seed)
    curation = Curation(ctx)
    spark = tune_session(ctx.spark())
    tracer = ctx.tracer

    # warm-up pass at the measured scale; its results are checked below
    results, errors = {}, {}
    for name in QUERY_MIX:
        try:
            df = QUERIES[name].fn(spark, data)
            cols = sorted(df.columns)
            results[name] = (cols, [tuple(canon(r[c]) for c in cols)
                                    for r in df.collect()])
        except Exception as e:  # noqa: BLE001 — reported as a failure
            errors[name] = f"{type(e).__name__}: {e}"[:300]
    curation(spark)
    ctx.setup_done()

    per_query = {n: {"build_s": [], "exec_s": []} for n in QUERY_MIX}
    phases = {p: 0.0 for p in PHASES}

    def one_pass() -> None:
        for name in QUERY_MIX:
            if name in errors:
                continue
            t0 = time.perf_counter()
            with ctx.span(f"workload.build.{name}"):
                df = QUERIES[name].fn(spark, data)
            t1 = time.perf_counter()
            with ctx.span(f"workload.exec.{name}"):
                if tracer is not None:
                    # planning forced here so its tracker holds all phases
                    df._jdf.queryExecution().executedPlan()
                df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            per_query[name]["build_s"].append(t1 - t0)
            per_query[name]["exec_s"].append(t2 - t1)
            if tracer is not None:
                summary = df._jdf.queryExecution().tracker().phases()
                for p in PHASES:
                    opt = summary.get(p)
                    if opt.isDefined():
                        phases[p] += opt.get().durationMs() / 1e3
        curation(spark)

    rounds = ctx.time_rounds(one_pass)

    problems, failed_queries = [], set(errors)
    con = duckdb.connect()
    for table in gen_star.TABLES:
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM "
                    f"'{os.path.join(data, table)}.parquet'")
    for name, (cols, rows) in results.items():
        sql = QUERIES[name].sql
        if sql is None:
            continue
        why = compare(cols, rows, *oracle_rows(con, sql))
        if why:
            failed_queries.add(name)
            if name not in KNOWN_FAULTS:
                problems.append(f"{name}: {why}"[:400])
    con.close()
    for name, why in errors.items():
        problems.append(f"{name}: {why}")
    problems += curation.problems()

    n_pass = len(rounds)
    stats["documents_curated"] = {"rows": curation.corpus.n_docs,
                                  "bytes": curation.corpus.n_bytes}
    return {
        # per pass: every query, then one run_curate
        "attempted": n_pass * (len(QUERY_MIX) + 1),
        "failed": n_pass * len(failed_queries),
        "problems": problems,
        "rounds": rounds,
        "per_query": per_query,
        "phases_s": {p: v / n_pass for p, v in phases.items()},
        "summary": curation.summaries[-1],
        "bytes_written": curation.bytes_written(),
        "record": {"inputs": stats, "queries": list(QUERY_MIX),
                   "failed_queries": sorted(failed_queries),
                   "curate_summary": curation.summaries[-1]},
    }
