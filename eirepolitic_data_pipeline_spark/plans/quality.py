"""DQ check compiler — SURVEY §2.9 (Q1-Q5).

The reference embeds a hand-rolled check suite in every builder
(`table_members.py:388-416` etc.) and validates downstream contracts from
YAML (`contracts.py:63-135`). Here every check compiles to an aggregate
EXPRESSION and the whole suite runs as ONE aggregation pass over the table —
a single job, map-side combined, no per-check scans. FK checks are the only
exception (one anti-join count per FK edge)."""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# Check names are the key of control_data_quality_results rows; DQSuite
# and the write gate (write_gate_results) both spell them from here.
def min_rows_check(n: int) -> str:
    return f"row_count>={n}"


def unique_check(cols: Sequence[str]) -> str:
    return f"unique({','.join(cols)})"


def blank_check(col: str) -> str:
    return f"{col}_blank_count==0"


def is_blank(col: str) -> Column:
    """Blank-vs-null convention: a null or empty/whitespace value counts as
    missing (reference `_nonblank`)."""
    return F.trim(F.coalesce(F.col(col).cast("string"), F.lit(""))) == ""


@dataclass(frozen=True)
class CheckResult:
    name: str
    passed: bool
    observed: object
    detail: str = ""


class DQSuite:
    """Declarative check suite compiled to one aggregation pass."""

    def __init__(self):
        self._checks: list[tuple[str, Column, "callable"]] = []

    # -- builders ------------------------------------------------------------
    def min_rows(self, n: int) -> "DQSuite":
        self._checks.append((
            min_rows_check(n), F.count(F.lit(1)).alias("v"),
            lambda v: v >= n))
        return self

    def non_null(self, col: str) -> "DQSuite":
        self._checks.append((
            f"{col}_null_count==0",
            F.sum(F.when(F.col(col).isNull(), 1).otherwise(0)).alias("v"),
            lambda v: (v or 0) == 0))
        return self

    def non_blank(self, col: str) -> "DQSuite":
        """Null, empty and whitespace values count as missing (``is_blank``)."""
        self._checks.append((
            blank_check(col),
            F.sum(F.when(is_blank(col), 1).otherwise(0)).alias("v"),
            lambda v: (v or 0) == 0))
        return self

    def unique(self, cols: Sequence[str]) -> "DQSuite":
        """Rows past the first of their key, the key compared on its typed
        columns (nulls equal to each other, as a key window groups them) —
        the count the write gate observes (``write_gate_metrics``)."""
        self._checks.append((
            unique_check(cols),
            (F.count(F.lit(1)) - F.countDistinct(F.struct(*cols))).alias("v"),
            lambda v: (v or 0) == 0))
        return self

    def in_range(self, col: str, lo=None, hi=None) -> "DQSuite":
        cond = F.lit(False)
        if lo is not None:
            cond = cond | (F.col(col) < lo)
        if hi is not None:
            cond = cond | (F.col(col) > hi)
        self._checks.append((
            f"{col}_in_range[{lo},{hi}]",
            F.sum(F.when(cond, 1).otherwise(0)).alias("v"),
            lambda v: (v or 0) == 0))
        return self

    def accepted_values(self, col: str, values: Sequence[str]) -> "DQSuite":
        self._checks.append((
            f"{col}_accepted_values",
            F.sum(F.when(~F.col(col).isin(*values) & F.col(col).isNotNull(), 1)
                  .otherwise(0)).alias("v"),
            lambda v: (v or 0) == 0))
        return self

    def custom(self, name: str, violation_cond: Column) -> "DQSuite":
        self._checks.append((
            name,
            F.sum(F.when(violation_cond, 1).otherwise(0)).alias("v"),
            lambda v: (v or 0) == 0))
        return self

    # -- execution -----------------------------------------------------------
    def run(self, df: DataFrame) -> list[CheckResult]:
        if not self._checks:
            return []
        exprs = [expr.alias(f"c{i}") for i, (_, expr, _) in enumerate(self._checks)]
        row = df.agg(*exprs).collect()[0]  # ONE pass for the whole suite
        out = []
        for i, (name, _, judge) in enumerate(self._checks):
            v = row[f"c{i}"]
            out.append(CheckResult(name=name, passed=bool(judge(v)), observed=v))
        return out

    @staticmethod
    def passed(results: list[CheckResult]) -> bool:
        return all(r.passed for r in results)


_GATE_ROWS = "incoming_rows"
_GATE_DUPLICATE_KEYS = "duplicate_key_rows"
_GATE_BLANK_KEYS = "blank_leading_key_rows"


def write_gate_metrics(primary_key: Sequence[str], incoming: Column,
                       rank: Column) -> list[Column]:
    """The aggregates a merge observes for build_table's DQ gate
    (operators/merge.py), counted over the ``incoming`` rows of a frame
    that ``rank``s each row within its primary key: rows, rows ranked
    past the first of their key, rows whose leading key ``is_blank``.
    Counts, not sums, so an empty batch reports 0 rather than null."""
    metrics = [F.count(F.when(incoming, 1)).alias(_GATE_ROWS)]
    if primary_key:
        metrics += [
            F.count(F.when(incoming & (rank > 1), 1))
            .alias(_GATE_DUPLICATE_KEYS),
            F.count(F.when(incoming & is_blank(primary_key[0]), 1))
            .alias(_GATE_BLANK_KEYS)]
    return metrics


def write_gate_results(metrics: dict, primary_key: Sequence[str],
                       min_rows: int) -> list[CheckResult]:
    """build_table's DQ gate — ``min_rows(n)``, ``unique(pk)``,
    ``non_blank(pk[0])`` — judged from the observed
    ``write_gate_metrics``, so the gate costs no pass of its own."""
    rows = metrics[_GATE_ROWS]
    out = [CheckResult(min_rows_check(min_rows), rows >= min_rows, rows)]
    if primary_key:
        dup, blank = metrics[_GATE_DUPLICATE_KEYS], metrics[_GATE_BLANK_KEYS]
        out += [CheckResult(unique_check(primary_key), dup == 0, dup),
                CheckResult(blank_check(primary_key[0]), blank == 0, blank)]
    return out


def fk_orphan_counts(child: DataFrame, parents: dict[str, DataFrame],
                     fks: Sequence[tuple[str, str, str, bool]]) -> list[CheckResult]:
    """Q3 FK integrity: one anti-join count per FK edge; nullable FKs drop
    nulls first (reference `merge.py:76-94`)."""
    out = []
    for col, parent_table, parent_col, nullable in fks:
        c = child.select(col)
        if nullable:
            c = c.filter(F.col(col).isNotNull())
        parent = parents[parent_table].select(F.col(parent_col).alias(col))
        orphans = c.join(parent, col, "left_anti").count()
        out.append(CheckResult(
            name=f"fk_{col}->{parent_table}.{parent_col}",
            passed=orphans == 0, observed=orphans))
    return out


def tally_completeness_evidence(tallies: DataFrame,
                                division_col: str = "division_id",
                                code_col: str = "vote_code",
                                required: Sequence[str] = ("ta", "nil", "staon"),
                                ) -> DataFrame:
    """A10 evidence PLAN (lazy — no action): divisions missing required
    vote categories, with exactly which categories are absent.

    One groupBy(division) + collect_set, then array_except against the
    required set — a single shuffle on the division key regardless of table
    size."""
    req = F.array(*[F.lit(v) for v in required])
    return (
        tallies
        .groupBy(division_col)
        .agg(F.collect_set(F.col(code_col).cast("string")).alias("__codes"))
        .withColumn("missing_codes",
                    F.array_sort(F.array_except(req, F.col("__codes"))))
        .filter(F.size("missing_codes") > 0)
        .select(division_col, "missing_codes"))


def tally_completeness(tallies: DataFrame,
                       division_col: str = "division_id",
                       code_col: str = "vote_code",
                       required: Sequence[str] = ("ta", "nil", "staon"),
                       ) -> tuple[CheckResult, DataFrame]:
    """A10 — every division must carry ALL required vote categories
    (reference `table_division_tallies.py:283`: categories_ok requires
    {ta,nil,staon} ⊆ vote_codes per division).

    Runs the evidence plan and counts it (one action). Callers composing
    the evidence into a larger report should use
    :func:`tally_completeness_evidence` directly — it stays lazy, so the
    pipeline executes once at the report's own action instead of once per
    check."""
    missing = tally_completeness_evidence(tallies, division_col, code_col,
                                          required)
    n = missing.count()
    return CheckResult("tally_categories_complete", n == 0, n), missing


def tally_reconciliation_evidence(tallies: DataFrame,
                                  member_votes: Optional[DataFrame] = None,
                                  division_col: str = "division_id",
                                  code_col: str = "vote_code",
                                  declared_col: str = "member_count",
                                  observed_col: Optional[str] = None,
                                  ) -> DataFrame:
    """A11 evidence PLAN (lazy — no action): declared-vs-observed tally
    mismatches per (division, vote_code).

    Two input shapes:
    - ``member_votes`` given: the detail side aggregates once per
      (division, vote_code) — map-side combined, one shuffle — then joins
      back to the tally header on the same composite key. A category with
      a declared count but NO detail rows reconciles against 0 (an empty
      `staon` list with tally=0 passes; a declared 3 with no rows is a
      mismatch).
    - ``observed_col`` given: the tallies frame ALREADY carries the
      observed count (the caller derived the header from the same
      aggregate — q68's shape) — the check is a pure projection + filter,
      zero extra shuffles and no join, and the shared aggregate is not
      re-computed.

    Non-numeric declared counts are skipped either way, matching the
    reference's comparable mask.
    """
    if (member_votes is None) == (observed_col is None):
        raise ValueError(
            "pass exactly one of member_votes (raw detail rows) or "
            "observed_col (pre-aggregated counts on the tallies frame)")
    declared = (F.col(declared_col).cast("string").try_cast("int")
                .alias("declared_count"))
    if observed_col is not None:
        joined = tallies.select(
            division_col, code_col, declared,
            F.col(observed_col).cast("long").alias("observed_count"))
    else:
        detail = (member_votes
                  .groupBy(division_col, code_col)
                  .agg(F.count(F.lit(1)).alias("observed_count")))
        joined = (tallies.select(division_col, code_col, declared)
                  .join(detail, [division_col, code_col], "left")
                  .withColumn("observed_count",
                              F.coalesce(F.col("observed_count"),
                                         F.lit(0)).cast("long")))
    return (joined
            .filter(F.col("declared_count").isNotNull()
                    & (F.col("declared_count") != F.col("observed_count")))
            .select(division_col, code_col, "declared_count",
                    "observed_count"))


def tally_reconciliation(tallies: DataFrame, member_votes: DataFrame,
                         division_col: str = "division_id",
                         code_col: str = "vote_code",
                         declared_col: str = "member_count",
                         ) -> tuple[CheckResult, DataFrame]:
    """A11 — declared per-category tally must reconcile with the exploded
    member-vote rows (reference `table_division_tallies.py:239-246`:
    `_tally_member_mismatches` compares `_api_tally` to `_members_length`,
    skipping rows where either side is unknown).

    Runs the evidence plan (see :func:`tally_reconciliation_evidence`) and
    counts it; report-composing callers should use the evidence function
    directly to keep the pipeline lazy."""
    mismatches = tally_reconciliation_evidence(
        tallies, member_votes, division_col, code_col, declared_col)
    n = mismatches.count()
    return CheckResult("tally_member_count_reconciles", n == 0, n), mismatches


def contract_checks(df: DataFrame, required_columns: Sequence[str],
                    primary_key: Sequence[str], min_rows: int,
                    max_age_days: Optional[int] = None,
                    freshness_col: Optional[str] = None) -> list[CheckResult]:
    """Q4 dataset-contract validation (reference `contracts.py:63-135`):
    required columns present, PK blank/dup counts, min rows, freshness."""
    results = [CheckResult(
        name="required_columns_present",
        passed=set(required_columns) <= set(df.columns),
        observed=sorted(set(required_columns) - set(df.columns)))]
    suite = DQSuite().min_rows(min_rows)
    for c in primary_key:
        if c in df.columns:
            suite.non_blank(c)
    if primary_key and set(primary_key) <= set(df.columns):
        suite.unique(primary_key)
    if max_age_days is not None and freshness_col and freshness_col in df.columns:
        # try_cast: silver stores blanks as '' and ANSI cast('' AS DATE)
        # throws, taking the whole one-pass suite down with it; an
        # unparseable date simply doesn't count as stale
        suite.custom(
            f"freshness<={max_age_days}d",
            F.datediff(F.current_date(),
                       F.col(freshness_col).try_cast("date")) > max_age_days)
    results.extend(suite.run(df))
    return results


def comparison_gates(legacy: DataFrame, candidate: DataFrame,
                     key_cols: Sequence[str],
                     max_only_keys: int = 0,
                     max_row_delta_pct: float = 2.0,
                     min_coverage_pct: float = 99.0) -> list[CheckResult]:
    """Q5 legacy-vs-new comparison gates (reference
    `compat_comparison.py:100-139` + thresholds `downstream_contracts.yml`):
    only-key counts, row-delta pct, join coverage pct.

    ONE full-outer join of the two distinct key sets yields matched /
    legacy-only / candidate-only in a single aggregate job — each table is
    scanned and distinct-shuffled once (the reports.py:_pair_row pattern;
    separate semi+anti+anti joins re-evaluate both key-set subtrees three
    times each, 3x the scan cost on every gate run)."""
    lk = (legacy.select(*key_cols).distinct()
          .withColumn("__l", F.lit(1)))
    ck = (candidate.select(*key_cols).distinct()
          .withColumn("__c", F.lit(1)))
    stats = lk.join(ck, list(key_cols), "full_outer").agg(
        F.sum(F.when(F.col("__l").isNotNull()
                     & F.col("__c").isNotNull(), 1).otherwise(0))
        .alias("matched"),
        F.sum(F.when(F.col("__c").isNull(), 1).otherwise(0))
        .alias("legacy_only"),
        F.sum(F.when(F.col("__l").isNull(), 1).otherwise(0))
        .alias("cand_only")).first()
    matched = int(stats["matched"] or 0)
    legacy_only = int(stats["legacy_only"] or 0)
    cand_only = int(stats["cand_only"] or 0)
    n_l, n_c = legacy.count(), candidate.count()
    delta_pct = abs(n_c - n_l) / n_l * 100 if n_l else 0.0
    n_lk = matched + legacy_only
    coverage = matched / n_lk * 100 if n_lk else 100.0
    return [
        CheckResult("legacy_only_keys", legacy_only <= max_only_keys, legacy_only),
        CheckResult("candidate_only_keys", cand_only <= max_only_keys, cand_only),
        CheckResult("row_delta_pct", delta_pct <= max_row_delta_pct, round(delta_pct, 3)),
        CheckResult("join_coverage_pct", coverage >= min_coverage_pct, round(coverage, 3)),
    ]


def mismatch_review(legacy: DataFrame, candidate: DataFrame,
                    key_cols: Sequence[str],
                    enrich_cols: Sequence[str] = ()) -> tuple[DataFrame, DataFrame]:
    """Q7 — named-key diff for human review (`mismatch_review.py:42-186`).

    Returns ``(summary, detail)``: a 1-row summary with matched /
    legacy-only / candidate-only counts, and per-key detail rows tagged with
    the side they exist on, enriched with the requested columns from the
    side that has them — the reference attaches member names so reviewers
    can act on the diff without re-querying.

    Both directions are anti-joins on the key columns (one shuffle each);
    nothing driver-side, so review stays cheap at any table size.
    """
    lk = legacy.select(*key_cols, *[c for c in enrich_cols
                                    if c in legacy.columns]).dropDuplicates(list(key_cols))
    ck = candidate.select(*key_cols, *[c for c in enrich_cols
                                       if c in candidate.columns]).dropDuplicates(list(key_cols))
    legacy_only = lk.join(ck.select(*key_cols), list(key_cols), "left_anti") \
        .withColumn("side", F.lit("legacy_only"))
    candidate_only = ck.join(lk.select(*key_cols), list(key_cols), "left_anti") \
        .withColumn("side", F.lit("candidate_only"))
    detail = legacy_only.unionByName(candidate_only,
                                     allowMissingColumns=True)
    matched = lk.join(ck.select(*key_cols), list(key_cols), "left_semi") \
        .agg(F.count(F.lit(1)).alias("matched_count"))
    summary = (matched
               .crossJoin(legacy_only.agg(
                   F.count(F.lit(1)).alias("legacy_only_count")))
               .crossJoin(candidate_only.agg(
                   F.count(F.lit(1)).alias("candidate_only_count"))))
    return summary, detail


def profile_table(df: DataFrame,
                  approx_distinct_rsd: float = 0.05) -> DataFrame:
    """Per-column profile as ONE aggregation pass (beyond-ref; the
    table-profiling report DQ dashboards are built on): for every column —
    null count, blank count (string), approx distinct, min/max (rendered to
    string), plus table row count.

    All statistics compile into a single agg (map-side combined, one
    shuffle to 1 row) and unpivot driver-side into one row per column, so
    profiling a 100 TB table costs one scan regardless of column count.
    approx_count_distinct keeps the distinct estimate mergeable (HLL);
    exact NDV would need one shuffle per column."""
    aggs = [F.count(F.lit(1)).alias("__rows")]
    null_long = F.lit(None).cast("long")
    dtypes = dict(df.dtypes)  # hoisted: rebuilding per column is O(cols^2)
    for c in df.columns:
        col, dt = F.col(c), dtypes[c]
        # columns containing a map ANYWHERE in the type (top-level map<>,
        # array<map<>>, struct with a map field) are unorderable and
        # unhashable for these aggregates — one such column must not fail
        # the whole profile; emit nulls
        orderable = "map<" not in dt
        aggs += [
            F.sum(col.isNull().cast("long")).alias(f"__null__{c}"),
            (F.sum((F.trim(col) == "").cast("long")) if dt == "string"
             else null_long).alias(f"__blank__{c}"),
            (F.approx_count_distinct(col, approx_distinct_rsd) if orderable
             else null_long).alias(f"__ndv__{c}"),
            (F.min(col).cast("string") if orderable
             else F.lit(None).cast("string")).alias(f"__min__{c}"),
            (F.max(col).cast("string") if orderable
             else F.lit(None).cast("string")).alias(f"__max__{c}"),
        ]
    row = df.agg(*aggs).collect()[0]
    spark = df.sparkSession
    out = [(c, dtypes[c], row["__rows"], row[f"__null__{c}"],
            row[f"__blank__{c}"], row[f"__ndv__{c}"],
            row[f"__min__{c}"], row[f"__max__{c}"]) for c in df.columns]
    return spark.createDataFrame(
        out, "column string, dtype string, row_count long, n_null long, "
             "n_blank long, approx_distinct long, min_value string, "
             "max_value string")
