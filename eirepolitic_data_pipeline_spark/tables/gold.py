"""Gold mart builders — reference parity, Spark-first.

Re-expresses the reference's gold-layer pandas builders as declarative
DataFrame pipelines:

- ``gold_current_members``        — `extract/oireachtas/table_gold_current_members.py:44-270`
- ``gold_member_activity_yearly`` — `extract/oireachtas/table_gold_member_activity_yearly.py:31-270`
- ``gold_member_activity_monthly``— `extract/oireachtas/table_gold_member_activity_monthly.py:31-190`
- ``gold_constituency_activity_yearly`` — `extract/oireachtas/table_gold_constituency_activity_yearly.py:55-235`
- ``gold_content_fact_pool``      — `extract/oireachtas/table_gold_content_fact_pool.py:31-225`

Inputs follow the reference's silver CSV conventions: every column is a
string, blank == missing, dates are ISO `YYYY-MM-DD` strings. Outputs keep
those string columns except declared numeric metrics (int/double).

Scale notes (100 TB design point):
- All dimension lookups (current members ≈ 174 rows) are broadcast.
- Metric aggregations are single-shuffle groupBys with map-side combine.
- The member×year / constituency×year grids are cross joins of two *derived
  dimensions* (≤ thousands of rows each) — bounded regardless of fact size.
- Year ranks partition by year; cardinality per partition = member count,
  never fact count, so the window never sees skew from the fact side.
"""

from __future__ import annotations

from contextlib import contextmanager
from contextvars import ContextVar
from typing import Iterator, Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scalar import (
    blank_as_null,
    coalesce_nonblank,
    nonblank,
    stable_hash,
    truthy,
)

OPEN_END_TS = "9999-12-31"

#: the frames the gold builders cached inside the enclosing
#: ``cached_frames`` block of this thread
_CACHED: ContextVar[Optional[list]] = ContextVar("gold_cached", default=None)


def _cache(df: DataFrame) -> DataFrame:
    """``df.cache()``, recorded for the enclosing ``cached_frames`` block."""
    df = df.cache()
    frames = _CACHED.get()
    if frames is not None:
        frames.append(df)
    return df


@contextmanager
def cached_frames() -> Iterator[list]:
    """Collect the frames the gold builders cache inside this block, in
    this thread only, so the caller can release exactly those once it has
    materialized the mart, and leave alone the blocks another thread's
    build or an embedding caller pinned meanwhile."""
    frames: list = []
    token = _CACHED.set(frames)
    try:
        yield frames
    finally:
        _CACHED.reset(token)


# ---------------------------------------------------------------------------
# Shared helpers
# ---------------------------------------------------------------------------

def _trimmed(col: str) -> F.Column:
    return F.trim(F.coalesce(F.col(col), F.lit("")))


def select_current_or_latest(df: DataFrame, group_key: str, current_col: str,
                             start_col: str, end_col: str) -> DataFrame:
    """One row per entity: current if flagged, else latest by (end, start).

    Mirrors `_select_current_or_latest` (`table_gold_current_members.py:209-218`):
    order by truthy(current) desc, end desc (unparseable/blank end == open ==
    max), start desc; keep first. String-typed date columns.
    """
    w = Window.partitionBy(group_key).orderBy(
        truthy(current_col).cast("int").desc(),
        F.coalesce(blank_as_null(end_col).try_cast("date"),
                   F.lit(OPEN_END_TS).cast("date")).desc(),
        blank_as_null(start_col).try_cast("date").desc_nulls_last(),
    )
    return (df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1).drop("__rn"))


def _int0(col: str) -> F.Column:
    """`pd.to_numeric(errors='coerce').fillna(0).astype(int)` parity."""
    return F.coalesce(F.col(col).try_cast("double"), F.lit(0.0)).cast("int")


# ---------------------------------------------------------------------------
# gold_current_members
# ---------------------------------------------------------------------------

def gold_current_members(members: DataFrame, memberships: DataFrame,
                         parties: DataFrame, constituencies: DataFrame,
                         offices: DataFrame, snapshot_date: str) -> DataFrame:
    """Current roster mart: W4 current-else-latest + J1 lookups + A8 office agg.

    Columns: member_code, full_name, party_name, constituency_name, house_no,
    office_name, snapshot_date (`configs/oireachtas/tables.yml:234-240`).
    """
    cur_memb = select_current_or_latest(
        memberships, "member_code", "is_current", "membership_start", "membership_end"
    ).select("member_code", "house_no", "membership_id")
    cur_party = select_current_or_latest(
        parties, "member_code", "is_current", "party_start", "party_end"
    ).select("member_code", F.col("party_name").alias("__party"))
    cur_cons = select_current_or_latest(
        constituencies, "member_code", "is_current", "represent_start", "represent_end"
    ).select("member_code", F.col("constituency_name").alias("__cons"))
    # NOTE (deliberate parity): select_current_or_latest keeps ONE office
    # row per member BEFORE the "; " string-agg, so a member holding two
    # concurrently-current offices surfaces only the keep-first one — the
    # reference does exactly the same (table_gold_current_members.py:224
    # runs _select_current_or_latest's drop_duplicates(keep='first') and
    # THEN the sorted-join at :236), so its join-over-one-row is equally
    # vestigial. Aggregating all current offices would diverge from the
    # reference's output; the agg shape is kept so flipping to multi-office
    # is a one-line change (drop the select_current_or_latest).
    cur_office = (
        select_current_or_latest(offices, "member_code", "is_current",
                                 "office_start", "office_end")
        .filter(nonblank("office_name"))
        .groupBy("member_code")
        .agg(F.array_join(F.array_sort(F.collect_set(F.trim("office_name"))),
                          "; ").alias("__office"))
    )

    # Dimension side is the per-member lookup (≤ hundreds of rows) — broadcast.
    roster = (
        members
        .join(F.broadcast(cur_memb.withColumnRenamed("house_no", "__house")),
              "member_code", "left")
        .join(F.broadcast(cur_party), "member_code", "left")
        .join(F.broadcast(cur_cons), "member_code", "left")
        .join(F.broadcast(cur_office), "member_code", "left")
        # All-blank inputs stay "" (reference `_coalesce_series` semantics),
        # so coalesce the blank-aware pick back to empty string.
        .withColumn("party_name", F.coalesce(
            coalesce_nonblank("__party", "latest_party_name"), F.lit("")))
        .withColumn("constituency_name", F.coalesce(
            coalesce_nonblank("__cons", "latest_constituency_name"), F.lit("")))
        .withColumn("house_no", F.coalesce(
            coalesce_nonblank("__house", "latest_house_no"), F.lit("")))
        .withColumn("office_name", F.coalesce(F.col("__office"), F.lit("")))
        .withColumn("snapshot_date", F.lit(snapshot_date))
    )

    # P9: keep truthy is_current_member rows; if none are flagged, fall back
    # to a semi-join against members that hold any membership row.
    has_current = members.filter(truthy("is_current_member")).limit(1).count() > 0
    if has_current:
        roster = roster.filter(truthy("is_current_member"))
    elif memberships.limit(1).count() > 0:
        roster = roster.join(
            F.broadcast(cur_memb.select("member_code").distinct()),
            "member_code", "left_semi")

    out_cols = ["member_code", "full_name", "party_name", "constituency_name",
                "house_no", "office_name", "snapshot_date"]
    return (roster.select(*out_cols)
            .dropDuplicates(["member_code"])
            .orderBy("member_code"))


# ---------------------------------------------------------------------------
# gold_member_activity_yearly / monthly
# ---------------------------------------------------------------------------

def _member_key(col: str, normalized: bool) -> F.Column:
    """Member-code normalization, or a plain alias under the normalized-
    silver contract.

    Silver tables written by this engine are trimmed at write time, so gold
    builders may be told (``normalized_inputs=True``) to skip the defensive
    re-trim. This is not just cosmetic: a plain column reference preserves
    the scan's output partitioning, so when the silver log is stored
    BUCKETED on the member key (io/bucketing.py) the per-member aggregations
    below run with ZERO Exchanges — `trim(coalesce(c, ''))` is an opaque
    derivation to the planner and forces a full re-shuffle of the fact table
    on every refresh."""
    return F.col(col) if normalized else _trimmed(col)


def _speech_period_metrics(speeches: DataFrame, period: F.Column,
                           period_name: str,
                           normalized: bool = False) -> DataFrame:
    """A1: per (member, period) speech_count + distinct debate-day count."""
    return (
        speeches
        .withColumn("member_code", _member_key("speaker_member_code", normalized))
        .withColumn("__d", blank_as_null("debate_date").try_cast("date"))
        .filter((F.col("member_code") != "") & F.col("__d").isNotNull())
        .withColumn(period_name, period)
        .groupBy("member_code", period_name)
        .agg(F.count("speech_id").alias("speech_count"),
             F.countDistinct("__d").alias("debate_day_count"))
    )


def _vote_kind() -> F.Column:
    """A3 classifier (`table_gold_member_activity_yearly.py:229-237`).

    Substring match over lower(vote_code + ' ' + vote_label); staon/abstain
    beats nil/no beats ta/yes/aye — the reference checks in that order.
    """
    raw = F.lower(F.trim(F.concat_ws(
        " ", F.coalesce(F.col("vote_code"), F.lit("")),
        F.coalesce(F.col("vote_label"), F.lit("")))))
    return (
        F.when(raw.contains("staon") | raw.contains("abstain"), "staon")
        .when(raw.contains("nil") | raw.contains("no"), "nil")
        .when(raw.contains("ta") | raw.contains("tá") | raw.contains("yes")
              | raw.contains("aye"), "ta")
        .otherwise("other")
    )


def _vote_period_metrics(votes: DataFrame, period: F.Column,
                         period_name: str, with_kinds: bool,
                         normalized: bool = False) -> DataFrame:
    """A2 + A3: votes cast per (member, period), optionally kind counts.

    The reference pivots via `pd.crosstab` then joins back; a conditional-sum
    agg gives identical wide counts in ONE shuffle instead of two.
    """
    base = (
        votes
        .withColumn("member_code", _member_key("member_code", normalized))
        .withColumn("__d", blank_as_null("division_date").try_cast("date"))
        .filter((F.col("member_code") != "") & F.col("__d").isNotNull())
        .withColumn(period_name, period)
    )
    aggs = [F.count("member_vote_id").alias("votes_cast_count")]
    if with_kinds:
        kind = _vote_kind()
        aggs += [F.sum(F.when(kind == k, 1).otherwise(0)).alias(f"{k}_count")
                 for k in ("ta", "nil", "staon")]
    return base.groupBy("member_code", period_name).agg(*aggs)


def _period_grid(current_members: DataFrame, metric_frames: list[DataFrame],
                 period_frames: list[DataFrame], period_name: str,
                 fallback_period: str) -> DataFrame:
    """J6: member_code × period cross grid so zero-activity pairs exist.

    Both sides are derived dimensions (distinct codes / distinct periods) —
    bounded and broadcastable no matter how large the fact inputs are.
    """
    codes = current_members.select(_trimmed("member_code").alias("member_code"))
    for mf in metric_frames:
        codes = codes.unionByName(
            mf.select(_trimmed("member_code").alias("member_code")))
    codes = codes.filter(F.col("member_code") != "").distinct()

    # Periods are calendar-bounded (distinct years / months — ≤ thousands by
    # construction), so they are collected once and re-emitted as a literal
    # frame: one job instead of three (emptiness probe + broadcast recompute),
    # and the empty-input fallback becomes a free length check. codes stays
    # fully distributed — member cardinality is unbounded.
    spark = current_members.sparkSession
    periods = spark.createDataFrame([], f"{period_name} string")
    for pf in period_frames:
        periods = periods.unionByName(
            pf.select(_trimmed(period_name).alias(period_name)))
    vals = sorted({r[0] for r in
                   periods.filter(F.col(period_name) != "").distinct().collect()})
    if not vals:
        vals = [fallback_period]
    from ..session import local_frame
    period_lit = local_frame(spark, [(v,) for v in vals],
                             f"{period_name} string")
    return codes.crossJoin(F.broadcast(period_lit))


def gold_member_activity_yearly(current_members: DataFrame, speeches: DataFrame,
                                member_votes: DataFrame,
                                divisions: DataFrame | None,
                                snapshot_date: str,
                                normalized_inputs: bool = False) -> DataFrame:
    """Annual member activity: counts, participation pct, per-year dense ranks.

    PK (member_code, year); columns `tables.yml:242-248`.
    ``normalized_inputs`` opts into the normalized-silver contract (see
    ``_member_key``): with member-key-bucketed silver logs the fact
    aggregations then run Exchange-free.
    """
    # The metric frames are (member × year)-bounded — dimension-sized no
    # matter how large the fact inputs are — and each is consumed 2-3× (grid
    # codes, grid periods, final join). Cache them so the fact scans + agg
    # shuffles run once; MEMORY_AND_DISK spills if a pathological dimension
    # ever outgrows executor memory.
    year_of = F.year("__d").cast("string")
    speech_metrics = _cache(_speech_period_metrics(
        speeches, year_of, "year", normalized=normalized_inputs))
    vote_metrics = _cache(_vote_period_metrics(
        member_votes, year_of, "year", with_kinds=True,
        normalized=normalized_inputs))

    # A4: distinct divisions per year; divisions table if usable, else votes.
    div_source = divisions
    if div_source is None or "division_date" not in div_source.columns \
            or div_source.limit(1).count() == 0:
        div_source = member_votes
    division_counts = _cache(
        div_source
        .withColumn("__d", blank_as_null("division_date").try_cast("date"))
        .filter(F.col("__d").isNotNull())
        .withColumn("year", F.year("__d").cast("string"))
        .groupBy("year")
        .agg(F.countDistinct("division_id").alias("division_count"))
    )

    grid = _period_grid(current_members, [speech_metrics, vote_metrics],
                        [speech_metrics, vote_metrics, division_counts],
                        "year", snapshot_date[:4])

    metrics = (
        grid
        .join(speech_metrics, ["member_code", "year"], "left")
        .join(vote_metrics, ["member_code", "year"], "left")
        .join(F.broadcast(division_counts), "year", "left")
    )
    for c in ("speech_count", "debate_day_count", "votes_cast_count",
              "ta_count", "nil_count", "staon_count", "division_count"):
        metrics = metrics.withColumn(c, _int0(c))

    # A7 ratio with zero-division guard, then W1 per-year dense ranks. The
    # dense rank depends only on the value column; the reference's tiebreak
    # columns affect row order, not rank values.
    metrics = metrics.withColumn(
        "vote_participation_pct",
        F.when(F.col("division_count") > 0,
               F.round(F.col("votes_cast_count") / F.col("division_count") * 100, 2))
        .otherwise(F.lit(0.0)))
    metrics = (
        metrics
        .withColumn("speech_rank", F.dense_rank().over(
            Window.partitionBy("year").orderBy(F.col("speech_count").desc())))
        .withColumn("vote_participation_rank", F.dense_rank().over(
            Window.partitionBy("year").orderBy(F.col("vote_participation_pct").desc())))
        .withColumn("snapshot_date", F.lit(snapshot_date))
    )
    out_cols = ["member_code", "year", "speech_count", "debate_day_count",
                "division_count", "votes_cast_count", "vote_participation_pct",
                "ta_count", "nil_count", "staon_count", "speech_rank",
                "vote_participation_rank", "snapshot_date"]
    return (metrics.select(*out_cols)
            .dropDuplicates(["member_code", "year"])
            .orderBy("year", "speech_rank", "member_code"))


def gold_member_activity_monthly(current_members: DataFrame,
                                 speeches: DataFrame, member_votes: DataFrame,
                                 snapshot_date: str,
                                 normalized_inputs: bool = False) -> DataFrame:
    """Monthly member activity (PK member_code, year_month; `tables.yml:250-256`)."""
    month_of = F.date_format("__d", "yyyy-MM")
    # Cached for the same reason as the yearly mart: bounded frames, 3 readers.
    speech_metrics = _cache(_speech_period_metrics(
        speeches, month_of, "year_month", normalized=normalized_inputs))
    vote_metrics = _cache(_vote_period_metrics(
        member_votes, month_of, "year_month", with_kinds=False,
        normalized=normalized_inputs))
    grid = _period_grid(current_members, [speech_metrics, vote_metrics],
                        [speech_metrics, vote_metrics],
                        "year_month", snapshot_date[:7])
    metrics = (
        grid
        .join(speech_metrics, ["member_code", "year_month"], "left")
        .join(vote_metrics, ["member_code", "year_month"], "left")
        .withColumn("snapshot_date", F.lit(snapshot_date))
    )
    for c in ("speech_count", "debate_day_count", "votes_cast_count"):
        metrics = metrics.withColumn(c, _int0(c))
    out_cols = ["member_code", "year_month", "speech_count",
                "debate_day_count", "votes_cast_count", "snapshot_date"]
    return (metrics.select(*out_cols)
            .dropDuplicates(["member_code", "year_month"])
            .orderBy(F.col("year_month"), F.col("speech_count").desc(),
                     F.col("votes_cast_count").desc(), F.col("member_code")))


# ---------------------------------------------------------------------------
# gold_constituency_activity_yearly
# ---------------------------------------------------------------------------

def _member_constituency_lookup(current_members: DataFrame,
                                member_votes: DataFrame) -> DataFrame:
    """J8: member → constituency, current_members first, vote rows fallback."""
    a = current_members.select(
        _trimmed("member_code").alias("member_code"),
        _trimmed("constituency_name").alias("constituency_name"),
        F.lit(0).alias("__prio"))
    b = member_votes.select(
        _trimmed("member_code").alias("member_code"),
        _trimmed("constituency_name_at_vote").alias("constituency_name"),
        F.lit(1).alias("__prio"))
    # Keep-first by (__prio, name) per member — as min(struct(prio, name)),
    # which orders field-by-field exactly like the row_number window this
    # replaces. The agg gets a map-side partial combine, so the shuffle
    # carries member-sized partials; the window form sorted the full
    # fact-sized union on every refresh.
    return (
        a.unionByName(b)
        .filter((F.col("member_code") != "") & (F.col("constituency_name") != ""))
        .groupBy("member_code")
        .agg(F.min(F.struct("__prio", "constituency_name")).alias("__best"))
        .select("member_code", F.col("__best.constituency_name")
                .alias("constituency_name"))
    )


def gold_constituency_activity_yearly(current_members: DataFrame,
                                      speeches: DataFrame,
                                      member_votes: DataFrame,
                                      snapshot_date: str) -> DataFrame:
    """Constituency rollups (PK constituency_name, year; `tables.yml:258-264`)."""
    # lookup is member-dimension-sized and feeds two broadcasts; the metric
    # frames are (constituency × year)-bounded with 3 readers each (years
    # union, names union, final join). Cache all of them so each fact input
    # is scanned and aggregated exactly once.
    lookup = _cache(_member_constituency_lookup(current_members, member_votes))

    speech_metrics = _cache(
        speeches
        .withColumn("member_code", _trimmed("speaker_member_code"))
        .withColumn("__d", blank_as_null("debate_date").try_cast("date"))
        .filter((F.col("member_code") != "") & F.col("__d").isNotNull())
        .join(F.broadcast(lookup), "member_code", "left")
        .filter(nonblank("constituency_name"))
        .withColumn("year", F.year("__d").cast("string"))
        .groupBy("constituency_name", "year")
        .agg(F.count("speech_id").alias("speech_count"))
    )
    vote_metrics = _cache(
        member_votes
        .withColumn("member_code", _trimmed("member_code"))
        .withColumn("__d", blank_as_null("division_date").try_cast("date"))
        .withColumn("__c_at_vote", _trimmed("constituency_name_at_vote"))
        .join(F.broadcast(lookup.withColumnRenamed(
            "constituency_name", "__c_lookup")), "member_code", "left")
        .withColumn("constituency_name",
                    coalesce_nonblank("__c_at_vote", "__c_lookup"))
        .filter((F.col("member_code") != "") & nonblank("constituency_name")
                & F.col("__d").isNotNull())
        .withColumn("year", F.year("__d").cast("string"))
        .groupBy("constituency_name", "year")
        .agg(F.count("member_vote_id").alias("votes_cast_count"))
    )
    member_counts = _cache(
        current_members
        .withColumn("constituency_name", _trimmed("constituency_name"))
        .filter(F.col("constituency_name") != "")
        .groupBy("constituency_name")
        .agg(F.countDistinct("member_code").alias("member_count"))
    )

    # Same bounded-dimension collect as _period_grid: distinct years are
    # calendar-bounded, so one job replaces the probe + recompute pair.
    year_vals = sorted({r[0] for r in (
        speech_metrics.select("year")
        .unionByName(vote_metrics.select("year")).distinct()
        .filter(nonblank("year")).collect())})
    if not year_vals:
        year_vals = [snapshot_date[:4]]
    from ..session import local_frame
    years = local_frame(current_members.sparkSession,
                        [(v,) for v in year_vals], "year string")
    names = (member_counts.select("constituency_name")
             .unionByName(speech_metrics.select("constituency_name"))
             .unionByName(vote_metrics.select("constituency_name"))
             .distinct().filter(nonblank("constituency_name")))

    metrics = (
        names.crossJoin(F.broadcast(years))
        .join(F.broadcast(member_counts), "constituency_name", "left")
        .join(speech_metrics, ["constituency_name", "year"], "left")
        .join(vote_metrics, ["constituency_name", "year"], "left")
        .withColumn("snapshot_date", F.lit(snapshot_date))
    )
    for c in ("member_count", "speech_count", "votes_cast_count"):
        metrics = metrics.withColumn(c, _int0(c))
    out_cols = ["constituency_name", "year", "member_count", "speech_count",
                "votes_cast_count", "snapshot_date"]
    return (metrics.select(*out_cols)
            .dropDuplicates(["constituency_name", "year"])
            .orderBy(F.col("year"), F.col("speech_count").desc(),
                     F.col("votes_cast_count").desc(), F.col("constituency_name")))


# ---------------------------------------------------------------------------
# gold_content_fact_pool
# ---------------------------------------------------------------------------

def _int_float_str(col: F.Column) -> F.Column:
    """`int_float` parity (`table_gold_content_fact_pool.py:219-223`):
    whole numbers render with no decimal point, others rounded to 2dp."""
    n = F.coalesce(col.try_cast("double"), F.lit(0.0))
    return (F.when(n == F.floor(n), F.floor(n).cast("long").cast("string"))
            .otherwise(F.round(n, 2).cast("string")))


def _fact_rows(source: DataFrame, fact_type: str, entity_type: str,
               entity_id: F.Column, period: F.Column, headline: F.Column,
               metric_name: str, metric_value: F.Column, source_table: str,
               source_key: F.Column, snapshot_date: str) -> DataFrame:
    """One fact per source row (`_fact`, `table_gold_content_fact_pool.py:190-206`)."""
    period_start = (
        F.when(F.length(period) == 7, F.concat(period, F.lit("-01")))
        .when(F.length(period) == 4, F.concat(period, F.lit("-01-01")))
        .otherwise(period))
    period_end = (
        F.when(F.length(period) == 7,
               F.last_day(F.to_date(F.concat(period, F.lit("-01")))).cast("string"))
        .when(F.length(period) == 4, F.concat(period, F.lit("-12-31")))
        .otherwise(period))
    value_str = F.coalesce(blank_as_null(metric_value.cast("string")), F.lit("0"))
    fact_id = F.concat(
        F.lit("fact:"),
        stable_hash(F.lit(fact_type), F.lit(entity_type), entity_id, period,
                    F.lit(metric_name), source_key, length=24))
    return source.select(
        fact_id.alias("fact_id"),
        F.lit(fact_type).alias("fact_type"),
        F.lit(entity_type).alias("entity_type"),
        entity_id.alias("entity_id"),
        period_start.alias("period_start"),
        period_end.alias("period_end"),
        headline.alias("headline"),
        F.lit(metric_name).alias("metric_name"),
        value_str.alias("metric_value"),
        F.lit(source_table).alias("source_table"),
        source_key.alias("source_key"),
        F.lit(snapshot_date).alias("snapshot_date"),
    )


def gold_content_fact_pool(member_yearly: DataFrame, member_monthly: DataFrame,
                           constituency_yearly: DataFrame,
                           current_members: DataFrame,
                           snapshot_date: str) -> DataFrame:
    """Deterministic fact pool for content rendering (`tables.yml:266-272`).

    Each gold metric row yields two headline facts; member names resolve via
    a broadcast lookup (J7 — the reference uses a python dict)."""
    names = F.broadcast(current_members.select(
        _trimmed("member_code").alias("member_code"),
        _trimmed("full_name").alias("__name")))

    def with_name(df: DataFrame) -> DataFrame:
        return (df.withColumn("member_code", _trimmed("member_code"))
                .join(names, "member_code", "left")
                .withColumn("__name", coalesce_nonblank("__name", "member_code")))

    my = with_name(member_yearly).filter(
        (F.col("member_code") != "") & nonblank("year"))
    my_key = F.concat_ws("|", "member_code", "year")
    mm = with_name(member_monthly).filter(
        (F.col("member_code") != "") & nonblank("year_month"))
    mm_key = F.concat_ws("|", "member_code", "year_month")
    cy = (constituency_yearly
          .withColumn("constituency_name", _trimmed("constituency_name"))
          .filter((F.col("constituency_name") != "") & nonblank("year")))
    cy_key = F.concat_ws("|", "constituency_name", "year")

    parts = [
        _fact_rows(
            my, "member_speech_yearly", "member", F.col("member_code"),
            F.trim("year"),
            F.concat(F.col("__name"), F.lit(" made "),
                     _int_float_str(F.col("speech_count")),
                     F.lit(" speeches in "), F.trim("year"), F.lit(".")),
            "speech_count", F.col("speech_count"),
            "gold_member_activity_yearly", my_key, snapshot_date),
        _fact_rows(
            my, "member_vote_participation_yearly", "member",
            F.col("member_code"), F.trim("year"),
            F.concat(F.col("__name"), F.lit(" voted in "),
                     _int_float_str(F.col("vote_participation_pct")),
                     F.lit("% of recorded divisions in "), F.trim("year"),
                     F.lit(".")),
            "vote_participation_pct", F.col("vote_participation_pct"),
            "gold_member_activity_yearly", my_key, snapshot_date),
        _fact_rows(
            mm, "member_speech_monthly", "member", F.col("member_code"),
            F.trim("year_month"),
            F.concat(F.col("__name"), F.lit(" made "),
                     _int_float_str(F.col("speech_count")),
                     F.lit(" speeches in "), F.trim("year_month"), F.lit(".")),
            "speech_count", F.col("speech_count"),
            "gold_member_activity_monthly", mm_key, snapshot_date),
        _fact_rows(
            mm, "member_votes_monthly", "member", F.col("member_code"),
            F.trim("year_month"),
            F.concat(F.col("__name"), F.lit(" cast "),
                     _int_float_str(F.col("votes_cast_count")),
                     F.lit(" recorded votes in "), F.trim("year_month"),
                     F.lit(".")),
            "votes_cast_count", F.col("votes_cast_count"),
            "gold_member_activity_monthly", mm_key, snapshot_date),
        _fact_rows(
            cy, "constituency_speech_yearly", "constituency",
            F.col("constituency_name"), F.trim("year"),
            F.concat(F.lit("Members associated with "),
                     F.col("constituency_name"), F.lit(" made "),
                     _int_float_str(F.col("speech_count")),
                     F.lit(" speeches in "), F.trim("year"), F.lit(".")),
            "speech_count", F.col("speech_count"),
            "gold_constituency_activity_yearly", cy_key, snapshot_date),
        _fact_rows(
            cy, "constituency_votes_yearly", "constituency",
            F.col("constituency_name"), F.trim("year"),
            F.concat(F.lit("Members associated with "),
                     F.col("constituency_name"), F.lit(" cast "),
                     _int_float_str(F.col("votes_cast_count")),
                     F.lit(" recorded votes in "), F.trim("year"), F.lit(".")),
            "votes_cast_count", F.col("votes_cast_count"),
            "gold_constituency_activity_yearly", cy_key, snapshot_date),
    ]
    pool = parts[0]
    for p in parts[1:]:
        pool = pool.unionByName(p)
    # O1: period_start desc, fact_type, metric_value desc (string order — the
    # reference sorts the stringly-typed column), entity_id.
    return (pool.dropDuplicates(["fact_id"])
            .orderBy(F.col("period_start").desc(), F.col("fact_type"),
                     F.col("metric_value").desc(), F.col("entity_id")))
