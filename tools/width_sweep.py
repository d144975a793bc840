"""Spread-width sweep for the text-family queries (r12 verdict ask #2).

The driver's r11 scaling block showed q22/q24/q25/q50/q54/q61 FASTER on
8 cores than 32 — the 16 KB text slice density fans tiny fixtures out to
every core, and past some width the per-task scheduling + Python-worker
cost beats the per-row CPU the width buys. This sweep measures the
text family at several densities IN ONE SESSION per density (the env
override is read at workload import).

Usage:
    SPARK_GRAFT_CPUS=32 python tools/width_sweep.py /root/testdata/sf0.1 \
        16384 40960 81920 163840 -- q22 q23 q24 q25 q50 q54 q61 q66

One Spark JVM per density (subprocess), interleaved medians of 3 inside.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

INNER = r"""
import json, os, statistics, sys, time
from eirepolitic_data_pipeline_spark import workload
from eirepolitic_data_pipeline_spark.session import get_spark
sf_dir = sys.argv[1]
prefixes = sys.argv[2:]
spark = get_spark("width_sweep")
qs = {n: f for n, f in workload.queries().items()
      if any(n.startswith(p) for p in prefixes)}
warm = "/root/testdata/sf0.001"
for n, f in qs.items():
    try:
        f(spark, warm).write.format("noop").mode("overwrite").save()
    except Exception as e:
        print(f"warm {n}: {e}", file=sys.stderr)
samples = {n: [] for n in qs}
for _ in range(3):
    for n, f in qs.items():
        t0 = time.perf_counter()
        f(spark, sf_dir).write.format("noop").mode("overwrite").save()
        samples[n].append(time.perf_counter() - t0)
print("RESULT " + json.dumps(
    {n: round(statistics.median(v), 3) for n, v in samples.items()}))
spark.stop()
"""


def main() -> None:
    args = sys.argv[1:]
    sf_dir = args[0]
    sep = args.index("--")
    densities = [int(x) for x in args[1:sep]]
    prefixes = args[sep + 1:]
    results = {}
    for d in densities:
        # the checkout this script lives in goes on PYTHONPATH: the inner
        # driver imports the package from it, and Spark's Python workers
        # inherit it through the JVM
        env = dict(os.environ, SPARK_GRAFT_TEXT_SLICE_BYTES=str(d),
                   PYTHONPATH=os.pathsep.join(
                       [ROOT] + [p for p in os.environ.get(
                           "PYTHONPATH", "").split(os.pathsep) if p]))
        t0 = time.time()
        out = subprocess.run(
            [sys.executable, "-c", INNER, sf_dir, *prefixes],
            env=env, capture_output=True, text=True)
        line = [ln for ln in out.stdout.splitlines()
                if ln.startswith("RESULT ")]
        if not line:
            print(f"density {d}: FAILED\n{out.stderr[-2000:]}",
                  file=sys.stderr)
            continue
        results[d] = json.loads(line[-1][7:])
        print(f"# density {d} done in {time.time() - t0:.0f}s",
              file=sys.stderr)
    names = sorted({n for r in results.values() for n in r})
    hdr = "query".ljust(32) + "".join(f"{d:>10}" for d in densities)
    print(hdr)
    for n in names:
        row = n.ljust(32)
        for d in densities:
            v = results.get(d, {}).get(n)
            row += f"{v:>10.3f}" if v is not None else f"{'-':>10}"
        print(row)


if __name__ == "__main__":
    main()
