"""Self-check harness mimicking the driver's correctness gate: run every
queries() entry on Spark and its oracle_sql() on DuckDB over the same
parquet, compare row count, column names, and an order-insensitive value
multiset. Usage:

    python tools/check_oracle.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import datetime
import math
import os
import sys
import time

import numpy as np
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def to_py(v):
    if v is None:
        return None
    if isinstance(v, (np.integer,)):
        return int(v)
    if isinstance(v, (np.floating,)):
        f = float(v)
        return None if math.isnan(f) else f
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime()
    return v


def canon(v):
    v = to_py(v)
    if v is None:
        return "∅"
    if isinstance(v, float):
        return repr(round(v, 9))
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    return repr(v)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import duckdb

    # the checkout this script lives in, never another one; Spark's Python
    # workers inherit PYTHONPATH from the JVM, which inherits it from this
    # process, so export it before the session starts
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "")
                  .split(os.pathsep) if p])
    import __spark_entry__ as entrymod

    if os.environ.get("SPARK_GRAFT_PLAIN"):
        # Mimic the driver harness exactly: a PLAIN session, none of the
        # factory's confs — catches accidental dependencies on them.
        from pyspark.sql import SparkSession
        spark = (SparkSession.builder.master("local[8]")
                 .config("spark.ui.enabled", "false")
                 .appName("check_oracle_plain").getOrCreate())
    else:
        from eirepolitic_data_pipeline_spark.session import get_spark
        spark = get_spark("check_oracle")
    con = duckdb.connect()
    for tname in ("region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {tname} AS SELECT * FROM '{sf_dir}/{tname}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sorted(sdf.columns)
            srows = [tuple(canon(r[c]) for c in scols) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {str(e)[:400]}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"pass {name}: rows-only ({len(srows)} rows, "
                  f"{time.time()-t0:.1f}s) [no oracle]")
            n_pass += 1
            continue
        try:
            odf = con.execute(oracles[name]).fetch_df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {str(e)[:300]}")
            n_fail += 1
            continue
        ocols = sorted(odf.columns.tolist())
        orows = [tuple(canon(v) for v in row)
                 for row in odf[ocols].itertuples(index=False, name=None)]
        problems = []
        if scols != ocols:
            problems.append(f"columns: spark={scols} oracle={ocols}")
        if len(srows) != len(orows):
            problems.append(f"rowcount: spark={len(srows)} oracle={len(orows)}")
        if not problems:
            sm, om = sorted(srows), sorted(orows)
            if sm != om:
                diff = [(a, b) for a, b in zip(sm, om) if a != b][:3]
                problems.append(f"values differ; first diffs: {diff}")
        if problems:
            print(f"FAIL {name}: " + " | ".join(problems))
            n_fail += 1
        else:
            print(f"pass {name} ({len(srows)} rows, {time.time()-t0:.1f}s)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
