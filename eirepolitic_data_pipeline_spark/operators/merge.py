"""Policy-driven merge — the reference engine's custom core (SURVEY §4).

Re-expresses the reference's merge-on-write semantics
(`extract/oireachtas/merge.py:14-30`, policies
`configs/oireachtas/write_policies.yml`) as DataFrame algebra:

- **snapshot_replace** — incoming replaces the table (rows missing from the
  incoming snapshot are dropped).
- **upsert** — union(existing, incoming); per primary key the INCOMING row
  wins (reference: `drop_duplicates(keep="last")` after `concat([existing,
  incoming])` — order-dependent in pandas, made explicit here with a source
  priority column, SURVEY §7 hard-part #2); then a second dedupe over the
  business key, incoming-first for ties.
- **append** — union only (event/audit tables).
- **rebuild** — incoming replaces full retained history.

At scale: the union is shuffle-free; the PK dedupe is one window over the
key — Spark partial-aggregates nothing here, but AQE coalesces the shuffle,
and because precedence is expressed as ORDER BY (priority, not row order) the
result is deterministic under any parallelism.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional, Sequence

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

_PRIORITY = "__src_priority"
_RN = "__rn"

VALID_MODES = ("snapshot_replace", "upsert", "append", "rebuild")


@dataclass(frozen=True)
class WritePolicy:
    """Per-table write policy (reference `write_policies.py:20-33`)."""

    mode: str
    primary_key: Sequence[str] = ()
    business_key: Sequence[str] = ()
    valid_from: Optional[str] = None
    valid_to: Optional[str] = None
    is_current: Optional[str] = None
    # FK edges: (local column, parent table name, parent column, nullable)
    foreign_keys: Sequence[tuple[str, str, str, bool]] = field(default_factory=tuple)

    def __post_init__(self):
        if self.mode not in VALID_MODES:
            raise ValueError(f"unknown write mode {self.mode!r}; expected {VALID_MODES}")
        if self.mode == "upsert" and not self.primary_key:
            raise ValueError("upsert policy requires a primary key")


def _rank(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """``df`` with ``_RN``: the row's rank within its key, lower priority
    value first (0 = incoming).

    Ties WITHIN a priority class (duplicate keys inside one incoming
    batch) are broken by a total order over every remaining column —
    without it, row_number over a constant ordering picks whichever row
    the shuffle delivers first, and a retried/speculated task or a re-run
    could promote a different payload (the module's determinism contract
    would only hold between batches, not within one)."""
    keyset = set(keys) | {_PRIORITY}
    # map-typed columns (incl. nested) are not orderable in Spark — they
    # stay out of the tiebreak (the order over the remaining columns is
    # still total for rows differing anywhere orderable)
    tiebreak = [F.col(f.name).desc_nulls_last() for f in df.schema.fields
                if f.name not in keyset
                and "map<" not in f.dataType.simpleString()]
    w = Window.partitionBy(*keys).orderBy(F.col(_PRIORITY).asc(), *tiebreak)
    return df.withColumn(_RN, F.row_number().over(w))


def _observe_incoming(df: DataFrame, keys: Sequence[str],
                      gate: Observation) -> DataFrame:
    """Attach build_table's DQ-gate metrics (plans/quality.py
    ``write_gate_metrics``) to ``df``, counted over its incoming
    (priority-0) rows; ``_RN`` is present when ``keys`` is non-empty."""
    # imported here: plans/ imports this module (registry → WritePolicy)
    from ..plans.quality import write_gate_metrics
    return df.observe(gate, *write_gate_metrics(
        keys, F.col(_PRIORITY) == 0, F.col(_RN)))


def _keep_first_by_priority(df: DataFrame, keys: Sequence[str],
                            gate: Optional[Observation] = None) -> DataFrame:
    """One row per key; lower priority value wins (0 = incoming). With
    ``gate``, the key window also observes the incoming-batch metrics
    (``_observe_incoming``) — the window already ranks every incoming row
    by key, so the DQ gate's uniqueness count costs no pass of its own."""
    ranked = _rank(df, keys)
    if gate is not None:
        ranked = _observe_incoming(ranked, keys, gate)
    return ranked.filter(F.col(_RN) == 1).drop(_RN)


def merge_for_policy(existing: Optional[DataFrame], incoming: DataFrame,
                     policy: WritePolicy,
                     gate: Optional[Observation] = None) -> DataFrame:
    """Merge an incoming batch into retained history per the write policy.

    ``existing`` may be None (first write). Column sets may differ between
    runs — unionByName with allowMissingColumns mirrors the reference's
    concat semantics (missing → null).

    ``gate`` (optional) observes the incoming batch's DQ metrics in the
    merge's own primary-key window (``_observe_incoming``); it is filled
    by the first action over the result, i.e. the write. Policies that run
    no such window (append, keyless) rank the incoming rows only for the
    observation.
    """
    pk = list(policy.primary_key)
    inc = incoming.withColumn(_PRIORITY, F.lit(0))
    if gate is not None and (policy.mode == "append" or not pk):
        inc = _observe_incoming(_rank(inc, pk) if pk else inc, pk,
                                gate).drop(_RN)
        gate = None
    if policy.mode in ("snapshot_replace", "rebuild") or existing is None:
        out = inc
        if policy.mode == "append":
            # existing is None (first write): append NEVER dedupes — later
            # appends keep every row, so deduping only the first batch
            # would make table contents depend on which batch a duplicate
            # arrived in (an append policy's primary_key documents the
            # grain; it is not a uniqueness enforcement)
            return out.drop(_PRIORITY)
        if pk:
            out = _keep_first_by_priority(out, pk, gate)
        if policy.business_key:
            out = _keep_first_by_priority(
                out.withColumn(_PRIORITY, F.lit(0)), policy.business_key)
        return out.drop(_PRIORITY)

    ex = existing.withColumn(_PRIORITY, F.lit(1))
    unioned = ex.unionByName(inc, allowMissingColumns=True)

    if policy.mode == "append":
        return unioned.drop(_PRIORITY)

    # upsert: PK dedupe (incoming wins), then business-key dedupe.
    out = _keep_first_by_priority(unioned, pk, gate)
    if policy.business_key:
        out = _keep_first_by_priority(out, policy.business_key)
    return out.drop(_PRIORITY)


def merge_upsert_antijoin(existing: DataFrame, incoming: DataFrame,
                          policy: WritePolicy,
                          gate: Optional[Observation] = None) -> DataFrame:
    """Upsert merge in the anti-join shape: ``existing ⟕̸ incoming ∪
    incoming`` — the form that never re-shuffles the fact-sized history.

    Equivalent to ``merge_for_policy``'s window-over-union upsert under
    three preconditions, which the MergeWriter checks before choosing it:

    - ``existing`` is PK-UNIQUE (it is: every prior merge output is);
    - the PK columns are NON-NULL (the MergeWriter probes the delta; a
      null PK would group in the window form but never match the
      anti-join);
    - the policy has no ``business_key`` (the second dedupe would need a
      second anti-join on a different key, which the history's bucketing
      cannot serve shuffle-free anyway).

    ``gate`` observes the incoming metrics on the delta's dedupe window,
    as in ``merge_for_policy``.

    Why it exists: the window form shuffles the ENTIRE union — history
    included — on every refresh. When the history is persisted BUCKETED on
    the primary key (io/bucketing.py; catalog manifests record it), this
    form plans the anti-join off the storage clustering: zero Exchange on
    the history side, one delta-sized Exchange (or a broadcast) for the
    incoming batch. At 100 TB that is the difference between re-shuffling
    the table every refresh and touching only the delta."""
    if policy.business_key:
        raise ValueError(
            "merge_upsert_antijoin does not support business_key policies; "
            "use merge_for_policy")
    pk = list(policy.primary_key)
    if not pk:
        # an empty PK would make the keep-first window GLOBAL (incoming
        # collapses to one arbitrary row) and the anti-join condition
        # empty (every existing row dropped) — the whole table silently
        # becomes one row
        raise ValueError(
            "merge_upsert_antijoin requires a non-empty primary_key; "
            "use merge_for_policy for keyless policies")
    inc = _keep_first_by_priority(
        incoming.withColumn(_PRIORITY, F.lit(0)), pk, gate).drop(_PRIORITY)
    # anti-join against the RAW incoming keys (duplicates are harmless to
    # an anti-join) so this branch carries no window — the plan's only
    # Exchanges are delta-sized, and the history side joins straight off
    # its storage clustering
    kept = existing.join(incoming.select(*pk), pk, "left_anti")
    return kept.unionByName(inc, allowMissingColumns=True)
