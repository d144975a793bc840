"""Bucketed-table support: shuffle-free co-located joins (io/bucketing.py)
and the bucketed-silver → gold-mart wiring (normalized-inputs contract)."""

from __future__ import annotations

import pytest

from eirepolitic_data_pipeline_spark.io.bucketing import (
    bucketed_join,
    buckets_for,
    exchanges_in_plan,
    persist_silver_bucketed,
    register_bucketed,
    write_bucketed,
)


def test_buckets_for_sizing():
    assert buckets_for(1) == 4
    assert buckets_for(10_000_000, rows_per_bucket=1_000_000) == 16
    assert buckets_for(10**12) == 4096  # clamped
    # power of two always
    for n in (3, 7, 100, 12345):
        b = buckets_for(n * 10**6, rows_per_bucket=10**6)
        assert b & (b - 1) == 0


@pytest.fixture()
def no_broadcast(spark):
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_join_has_no_shuffle(spark, tmp_path, no_broadcast):
    facts = spark.createDataFrame(
        [(i % 50, i, float(i)) for i in range(1000)],
        "member_id int, row_id long, v double")
    dims = spark.createDataFrame(
        [(i, f"m{i}") for i in range(50)], "member_id int, name string")

    write_bucketed(facts, "b_facts", ["member_id"], 8,
                   str(tmp_path / "facts"))
    write_bucketed(dims, "b_dims", ["member_id"], 8, str(tmp_path / "dims"))
    try:
        joined = bucketed_join(spark, "b_facts", "b_dims", ["member_id"])
        assert exchanges_in_plan(joined) == 0
        assert joined.count() == 1000

        # the same join on plain (non-bucketed) frames must shuffle —
        # proves the assertion above is not vacuous
        plain = facts.join(dims, ["member_id"])
        assert exchanges_in_plan(plain) > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS b_facts")
        spark.sql("DROP TABLE IF EXISTS b_dims")


def test_register_bucketed_reattaches_metadata(spark, tmp_path, no_broadcast):
    df = spark.createDataFrame(
        [(i % 20, i) for i in range(200)], "k int, row_id long")
    write_bucketed(df, "b_left", ["k"], 4, str(tmp_path / "left"))
    write_bucketed(df, "b_right", ["k"], 4, str(tmp_path / "right"))
    try:
        # simulate a fresh session: drop the catalog entry, re-attach the
        # existing directory with explicit bucketing DDL
        spark.sql("DROP TABLE b_right")
        register_bucketed(spark, "b_right", str(tmp_path / "right"),
                          "k int, row_id long", ["k"], 4)
        joined = bucketed_join(spark, "b_left", "b_right", ["k"])
        assert exchanges_in_plan(joined) == 0
        assert joined.count() == 200 * 10  # 10 matches per key per side
    finally:
        spark.sql("DROP TABLE IF EXISTS b_left")
        spark.sql("DROP TABLE IF EXISTS b_right")


def _mart_fixtures(spark):
    """Tiny roster / speech log / vote log in the silver string conventions
    (already trimmed — the contract the silver writers uphold)."""
    from pyspark.sql import functions as F
    roster = spark.createDataFrame(
        [(f"m{i}", f"Member {i}", f"C{i % 5}", "true") for i in range(20)],
        "member_code string, full_name string, constituency_name string, "
        "is_current_member string")
    speeches = spark.createDataFrame(
        [(f"m{i % 20}", f"202{4 + i % 2}-0{i % 9 + 1}-15", f"sp{i}")
         for i in range(2000)],
        "speaker_member_code string, debate_date string, speech_id string")
    votes = spark.createDataFrame(
        [(f"m{i % 20}", f"202{4 + i % 2}-0{i % 9 + 1}-20", f"v{i}",
          ["ta", "nil", "staon"][i % 3], "", f"d{i % 40}", "")
         for i in range(2000)],
        "member_code string, division_date string, member_vote_id string, "
        "vote_code string, vote_label string, division_id string, "
        "constituency_name_at_vote string")
    return roster, speeches, votes


def test_bucketed_silver_marts_drop_fact_exchanges(spark, tmp_path,
                                                   no_broadcast):
    """The recurring-join wiring: silver logs persisted bucketed on the
    member key + the builders' normalized-inputs contract ⇒ the per-member
    fact aggregations plan WITHOUT Exchanges, and the mart output is
    byte-identical to the defensive (re-trimming, shuffling) path."""
    from eirepolitic_data_pipeline_spark.tables.gold import (
        _speech_period_metrics,
        _vote_period_metrics,
        gold_member_activity_yearly,
    )
    from pyspark.sql import functions as F

    roster, speeches, votes = _mart_fixtures(spark)
    try:
        bkt = persist_silver_bucketed(
            {"speeches": (speeches, ["speaker_member_code"]),
             "votes": (votes, ["member_code"])},
            str(tmp_path / "silver"), num_buckets=8)

        # the fact-side aggregations are Exchange-free on bucketed input...
        year = F.year("__d").cast("string")
        agg_b = _speech_period_metrics(bkt["speeches"], year, "year",
                                       normalized=True)
        assert exchanges_in_plan(agg_b) == 0
        agg_v = _vote_period_metrics(bkt["votes"], year, "year",
                                     with_kinds=True, normalized=True)
        assert exchanges_in_plan(agg_v) == 0
        # ...and shuffle on plain input with the defensive re-trim
        assert exchanges_in_plan(
            _speech_period_metrics(speeches, year, "year")) > 0

        # full mart parity: bucketed+normalized == plain+defensive
        a = gold_member_activity_yearly(
            roster, bkt["speeches"], bkt["votes"], None, "2026-08-14",
            normalized_inputs=True)
        b = gold_member_activity_yearly(
            roster, speeches, votes, None, "2026-08-14")
        ra, rb = sorted(map(tuple, a.collect())), sorted(map(tuple, b.collect()))
        assert ra == rb and len(ra) > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_speeches")
        spark.sql("DROP TABLE IF EXISTS bkt_votes")


def test_write_range_sorted_clusters_for_skipping(spark, tmp_path):
    """Range-sorted layout: each file holds a contiguous key range (the
    property parquet min/max skipping needs), the pushed filter reaches the
    scan, and the data round-trips completely."""
    import pyarrow.parquet as pq
    import os
    from eirepolitic_data_pipeline_spark.io.bucketing import write_range_sorted
    from pyspark.sql import functions as F

    df = spark.range(100000).select(
        (F.col("id") * 2654435761 % 100000).alias("k"),  # scrambled order
        F.col("id").alias("payload"))
    path = str(tmp_path / "sorted")
    write_range_sorted(df, path, ["k"], num_files=8)

    # per-file min/max ranges must be (nearly) disjoint — contiguity proof
    ranges = []
    for name in os.listdir(path):
        if name.endswith(".parquet"):
            t = pq.read_table(os.path.join(path, name), columns=["k"])
            ks = t["k"].to_pylist()
            ranges.append((min(ks), max(ks)))
    ranges.sort()
    assert len(ranges) > 1
    overlaps = sum(1 for (a, b), (c, d) in zip(ranges, ranges[1:]) if c < b)
    assert overlaps == 0

    back = spark.read.parquet(path)
    sel = back.filter(F.col("k") == 12345)
    plan = sel._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(k), EqualTo(k,12345)" in plan
    assert back.count() == 100000 and sel.count() == df.filter("(id * 2654435761) % 100000 = 12345").count()


# ---------------------------------------------------------------------------
# default bucketed storage for merge-heavy fact tables (refresh cycle)
# ---------------------------------------------------------------------------

def test_bucketed_fact_merge_plans_no_history_exchange(spark, tmp_path,
                                                       no_broadcast):
    """The refresh-cycle merge contract: a fact table persisted bucketed on
    its primary key is merged with the anti-join form off the storage
    clustering — ZERO Exchange on the history side (the only Exchange in
    the plan is the delta-sized incoming shuffle), with contents identical
    to the window-over-union merge."""
    from pyspark.sql import functions as F

    from eirepolitic_data_pipeline_spark.io.catalog import BatchCatalog
    from eirepolitic_data_pipeline_spark.io.writers import MergeWriter
    from eirepolitic_data_pipeline_spark.operators.merge import (
        WritePolicy, merge_for_policy, merge_upsert_antijoin)

    catalog = BatchCatalog(root=str(tmp_path / "wh"))
    writer = MergeWriter(catalog=catalog, spark=spark)
    policy = WritePolicy(mode="upsert", primary_key=["pk"])
    hist = spark.range(20000).select(
        F.col("id").cast("string").alias("pk"), F.lit("old").alias("v"))
    writer.write(hist, "fact", policy, batch_id="b1",
                 bucket_by=("pk",), num_buckets=8)
    catalog.promote("b1", ["fact"])

    # the manifest carries the bucketing (parquet files alone don't)
    entry = catalog._load_manifest("b1")["tables"]["fact"]
    assert entry["bucket_by"] == ["pk"] and entry["num_buckets"] == 8

    # a catalog read re-attaches the clustering: the merge plan's history
    # side scans Bucketed with no Exchange above it
    existing = catalog.read_table(spark, "fact")
    delta = spark.range(100).select(
        (F.col("id") * 3).cast("string").alias("pk"),
        F.lit("new").alias("v"))
    merged = merge_upsert_antijoin(existing, delta, policy)
    plan = merged._jdf.queryExecution().executedPlan().toString()
    assert "Bucketed: true" in plan
    # ZERO Exchange between the bucketed history scan and the join: walk
    # up from the bucketed FileScan line to the join line — every line in
    # between belongs to the history-side chain (the tree prints a
    # subtree's lines consecutively) and must not be an Exchange. The
    # remaining Exchanges in the plan are all delta-sized.
    lines = plan.splitlines()
    scan_i = next(i for i, ln in enumerate(lines) if "Bucketed: true" in ln)
    join_i = next(i for i in range(scan_i, -1, -1)
                  if "Join" in lines[i] and "LeftAnti" in lines[i])
    assert not any("Exchange" in ln for ln in lines[join_i:scan_i]), \
        "history side re-shuffled despite bucketed storage"

    # second refresh cycle through the writer: same contents as the
    # window-over-union merge of the same inputs
    writer.write(delta, "fact", policy, batch_id="b2",
                 bucket_by=("pk",), num_buckets=8)
    got = catalog.read_table(spark, "fact", batch_id="b2")
    want = merge_for_policy(hist, delta, policy)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert got.count() == 20000  # all 100 delta keys already existed: pure upsert
    assert got.filter("v = 'new'").count() == 100
