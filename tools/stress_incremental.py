"""Incremental-vs-full equivalence at stress scale: the additive rollups
of operators/incremental.py were pytest-proven on small frames; this tool
proves them on a 20M-row fact table with append deltas — the sibling of
stress_marts.py (same synthetic-fact approach, same STRESS.md artifact).

What it checks (the 100 TB failure modes of incremental maintenance):

1. **Exact additive equivalence** — after N append deltas folded in with
   ``incremental_additive`` (never rescanning history), the maintained
   rollup equals the full recompute over base+deltas EXACTLY (multiset
   compare via exceptAll in both directions, integer measures so no float
   summation drift can hide a defect). Deltas introduce NEW groups and a
   NULL dimension key, so the full-outer merge's null-safe join is on the
   hook, not just the happy path.
2. **The cost argument is real** — the incremental update's wall time is
   recorded next to the full recompute's; at 100 TB the former is
   O(delta + groups) and the latter O(history).

Appends a section to STRESS.md and exits non-zero on any violation.
Usage::

    python tools/stress_incremental.py [--rows 20000000] [--deltas 3]
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from eirepolitic_data_pipeline_spark.operators.incremental import (  # noqa: E402
    incremental_additive)
from eirepolitic_data_pipeline_spark.session import get_spark  # noqa: E402

KEYS = ["member_code", "year"]
VALUES = ["n_votes", "points"]


def facts(spark, start: int, n: int, n_members: int, new_member_floor=None):
    """n synthetic fact rows with ids [start, start+n): integer measures,
    a five-year dimension, and a NULL member_code group (id%997==0)."""
    member = (F.col("id") % n_members).cast("string")
    if new_member_floor is not None:
        # deltas promote some rows to brand-new members → NEW groups
        member = F.when(F.col("id") % 13 == 0,
                        (F.col("id") % 97 + new_member_floor).cast("string")
                        ).otherwise(member)
    return spark.range(start, start + n).select(
        F.when(F.col("id") % 997 == 0, F.lit(None))
        .otherwise(F.concat(F.lit("m"), member)).alias("member_code"),
        (F.col("id") % 5 + 2021).cast("string").alias("year"),
        (F.col("id") % 1000).alias("value"))


def rollup(df):
    return df.groupBy(*KEYS).agg(
        F.count(F.lit(1)).alias("n_votes"),
        F.sum("value").alias("points"))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=20_000_000)
    ap.add_argument("--delta-rows", type=int, default=2_000_000)
    ap.add_argument("--deltas", type=int, default=3)
    ap.add_argument("--members", type=int, default=2000)
    ap.add_argument("--out", default=os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "STRESS.md"))
    args = ap.parse_args()

    spark = get_spark("stress_incremental")
    cores = spark.sparkContext.defaultParallelism
    tmp = tempfile.mkdtemp(prefix="stress_incremental_")

    # base history + N append deltas, all persisted to parquet so every
    # pass reads real files (and the "full recompute" scans real history)
    facts(spark, 0, args.rows, args.members).write.parquet(
        os.path.join(tmp, "base"))
    for i in range(args.deltas):
        facts(spark, args.rows + i * args.delta_rows, args.delta_rows,
              args.members, new_member_floor=args.members * (i + 2)) \
            .write.parquet(os.path.join(tmp, f"delta{i}"))
    base = spark.read.parquet(os.path.join(tmp, "base"))
    deltas = [spark.read.parquet(os.path.join(tmp, f"delta{i}"))
              for i in range(args.deltas)]
    print(f"facts: {args.rows} base + {args.deltas} x {args.delta_rows} "
          f"delta rows, {cores} cores")

    # ---- additive: maintain the rollup through the deltas -----------------
    t0 = time.perf_counter()
    maintained = rollup(base)
    maintained.write.parquet(os.path.join(tmp, "rollup0"))
    t_base = round(time.perf_counter() - t0, 1)
    t_inc = 0.0
    for i, d in enumerate(deltas):
        prev = spark.read.parquet(os.path.join(tmp, f"rollup{i}"))
        t0 = time.perf_counter()
        nxt = incremental_additive(prev, rollup(d), KEYS, VALUES)
        nxt.write.parquet(os.path.join(tmp, f"rollup{i + 1}"))
        t_inc += time.perf_counter() - t0
    t_inc = round(t_inc, 1)
    final = spark.read.parquet(os.path.join(tmp, f"rollup{args.deltas}"))

    t0 = time.perf_counter()
    everything = base
    for d in deltas:
        everything = everything.unionByName(d)
    full = rollup(everything)
    n_groups = full.count()
    t_full = round(time.perf_counter() - t0, 1)

    extra = final.exceptAll(full).count()
    missing = full.exceptAll(final).count()
    additive_ok = extra == 0 and missing == 0
    print(f"additive: {n_groups} groups; maintained-vs-full exceptAll "
          f"{extra}/{missing} (must be 0/0) "
          f"{'OK' if additive_ok else 'FAIL'}; base rollup {t_base}s, "
          f"{args.deltas} incremental updates {t_inc}s total, "
          f"full recompute {t_full}s")

    all_ok = additive_ok

    header = ("## Incremental-vs-full equivalence stress "
              "(tools/stress_incremental.py)")
    section = (
        f"\n{header}\n\n"
        f"Facts: **{args.rows} base rows + {args.deltas} x "
        f"{args.delta_rows} append deltas** ({args.members}+ members incl. "
        f"delta-new groups and a NULL member group), local[{cores}].\n\n"
        "| check | result | detail |\n|---|---|---|\n"
        f"| additive rollup == full recompute (exact) | "
        f"{'PASS' if additive_ok else 'FAIL'} | {n_groups} groups, "
        f"exceptAll both ways = {extra}/{missing}; incremental updates "
        f"{t_inc}s total vs full recompute {t_full}s (base rollup "
        f"{t_base}s) |\n"
        "\nHonest cost note: at this fixture scale the full recompute is "
        "as fast as the incremental fold — a 20M-row columnar count/sum "
        "is CPU-trivial on 32 local cores, so fixed per-update costs "
        "(the dimension-sized full-outer join + rollup write) dominate. "
        "The claim under test here is EQUIVALENCE (exact, through new "
        "groups and NULL keys); the cost claim is asymptotic — "
        "O(delta + groups) vs O(history) — and pays off when history is "
        "storage-resident at 1000x this size, not in a warm local "
        "fixture.\n"
        f"\nResult: **{'PASS' if all_ok else 'FAIL'}**. "
        "Rerun: `python tools/stress_incremental.py`.\n")

    prior = open(args.out).read() if os.path.exists(args.out) else ""
    idx = prior.find(header)
    if idx >= 0:
        nxt = prior.find("\n## ", idx + len(header))
        prior = prior[:idx].rstrip("\n") + "\n" + (
            prior[nxt:] if nxt >= 0 else "")
    with open(args.out, "w") as f:
        f.write(prior.rstrip("\n") + "\n" + section)
    print(f"wrote {args.out}: {'PASS' if all_ok else 'FAIL'}")
    spark.stop()
    sys.exit(0 if all_ok else 1)


if __name__ == "__main__":
    main()
