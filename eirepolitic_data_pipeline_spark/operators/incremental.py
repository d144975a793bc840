"""Incremental aggregate maintenance (beyond-ref): update persisted
rollups from a delta batch without rescanning history.

The reference rebuilds every gold rollup from full retained history each
refresh — correct, and O(history) every run. For append-only fact logs the
additive metrics (counts, sums) are ALGEBRAIC: the persisted aggregate plus
the delta batch's aggregate IS the new aggregate, so a refresh costs
O(delta + affected groups) regardless of history size. Distinct counts are
not additive — pair this with mergeable HLL sketches (Spark's
``hll_sketch_agg`` / ``hll_union_agg``, as q59 does) for those;
non-algebraic metrics (medians, top-k with evictions) still need the
recompute path.

Contract: facts are APPEND-ONLY between refreshes (the engine's upsert
keep-last merge dedupes re-deliveries BEFORE aggregation, so the delta
handed here is the set of genuinely-new rows). Retractions require a
recompute of the affected groups — use ``recompute_groups`` for that.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def incremental_additive(prev: DataFrame, delta_agg: DataFrame,
                         keys: Sequence[str],
                         value_cols: Sequence[str]) -> DataFrame:
    """Merge a persisted additive rollup with the delta batch's rollup:
    full-outer join on the group keys, value columns added with null→0.
    One dimension-sized shuffle; the fact history is never touched.

    ``delta_agg`` must be aggregated at the same grain with the same
    column names (build it with the same groupBy the original rollup
    used over ONLY the delta rows).

    The join is NULL-SAFE on the keys: groupBy routinely emits a NULL
    group for facts with a null dimension, and plain equality would
    double-row it (prev's and delta's null groups never matching)."""
    cond = None
    for k in keys:
        eq = F.col(f"p.{k}").eqNullSafe(F.col(f"d.{k}"))
        cond = eq if cond is None else (cond & eq)
    merged = prev.alias("p").join(delta_agg.alias("d"), cond, "full_outer")
    out_cols = [F.coalesce(F.col(f"p.{k}"), F.col(f"d.{k}")).alias(k)
                for k in keys]
    for c in value_cols:
        out_cols.append(
            (F.coalesce(F.col(f"p.{c}"), F.lit(0))
             + F.coalesce(F.col(f"d.{c}"), F.lit(0))).alias(c))
    passthrough = [c for c in prev.columns
                   if c not in keys and c not in value_cols]
    for c in passthrough:
        # non-metric attributes: delta wins when present (newest snapshot)
        other = F.col(f"d.{c}") if c in delta_agg.columns else F.lit(None)
        out_cols.append(F.coalesce(other, F.col(f"p.{c}")).alias(c))
    return merged.select(*out_cols)


def recompute_groups(prev: DataFrame, facts: DataFrame,
                     affected_keys: DataFrame, keys: Sequence[str],
                     agg_fn) -> DataFrame:
    """Partial recompute for NON-additive metrics or retractions: rebuild
    only the groups named in ``affected_keys`` from the fact table, keep
    every untouched group's persisted row as-is.

    Cost: one semi-join-pruned scan of the fact table (partition/bucket
    layout on the keys makes it a fraction of history) + an anti-join on
    the dimension-sized rollup. ``agg_fn(facts_subset)`` must return the
    rollup grain with prev's schema. Joins are NULL-SAFE on the keys so a
    null group listed in ``affected_keys`` really gets rebuilt (plain
    equality would silently keep its stale row)."""
    ak = affected_keys.select(*keys).distinct()

    def _ns(left, right):
        cond = None
        for k in keys:
            eq = left[k].eqNullSafe(right[k])
            cond = eq if cond is None else (cond & eq)
        return cond

    rebuilt = agg_fn(
        facts.join(F.broadcast(ak), _ns(facts, ak), "left_semi"))
    untouched = prev.join(ak, _ns(prev, ak), "left_anti")
    return untouched.unionByName(rebuilt)
