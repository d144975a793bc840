"""Regression tests for the round-4 enrich/io/streaming review findings:
each test reproduces the reviewed failure scenario against the fix."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from eirepolitic_data_pipeline_spark.io.catalog import BatchCatalog, CatalogError


def test_parse_scores_honors_custom_id_key():
    from eirepolitic_data_pipeline_spark.enrich.batch_scoring import (
        parse_scores)
    text = '[{"sentence_id": "a", "score": 50}, {"sentence_id": "b", "score": 999}]'
    out = parse_scores(text, ["a", "b"], id_key="sentence_id")
    assert out == {"a": 50, "b": 100}          # clamped to hi
    # the old hardcoded key would see every id missing
    with pytest.raises(ValueError, match="Missing"):
        parse_scores(text, ["a", "b"])


def test_merge_writer_new_table_after_promote(spark, tmp_path):
    """First write of a NEW table after a batch was promoted must treat the
    production absence as no-history, not crash on PATH_NOT_FOUND."""
    from eirepolitic_data_pipeline_spark.io.writers import MergeWriter
    from eirepolitic_data_pipeline_spark.operators.merge import WritePolicy
    catalog = BatchCatalog(root=str(tmp_path / "wh"))
    writer = MergeWriter(catalog=catalog, spark=spark)
    pol = WritePolicy(mode="upsert", primary_key=("k",))
    df = spark.createDataFrame([(1, "x")], "k long, v string")
    writer.write(df, "members", pol, batch_id="b1")
    catalog.promote("b1", ["members"])
    writer.write(df, "photos", pol, batch_id="b2")  # NEW table
    merged = catalog.read_table(spark, "photos", batch_id="b2")
    assert merged.count() == 1
    # b2 drops "members" from production — promote's shrink guard must be
    # explicitly overridden for this deliberate retirement
    with pytest.raises(CatalogError, match="shrink"):
        catalog.promote("b2", ["photos"])
    catalog.promote("b2", ["photos"], allow_shrink=True)


def test_rollback_refuses_unpromoted_batch(spark, tmp_path):
    from eirepolitic_data_pipeline_spark.io.writers import MergeWriter
    from eirepolitic_data_pipeline_spark.operators.merge import WritePolicy
    catalog = BatchCatalog(root=str(tmp_path / "wh"))
    writer = MergeWriter(catalog=catalog, spark=spark)
    pol = WritePolicy(mode="upsert", primary_key=("k",))
    df = spark.createDataFrame([(1, "x")], "k long, v string")
    writer.write(df, "t", pol, batch_id="b1")
    catalog.promote("b1", ["t"])
    writer.write(df, "t", pol, batch_id="b2")   # open candidate, mutable
    with pytest.raises(CatalogError, match="never promoted"):
        catalog.rollback("b2")
    catalog.rollback("b1")                       # promoted target is fine


def test_delete_column_preserves_hive_layout(spark, tmp_path):
    from eirepolitic_data_pipeline_spark.io.maintenance import delete_column
    path = str(tmp_path / "ds")
    df = spark.createDataFrame(
        [(1, "a", "2026-8-1"), (2, "b", "2026-08-02")],
        "k long, junk string, snapshot_date string")
    df.write.partitionBy("snapshot_date").parquet(path)
    assert delete_column(spark, path, "junk") is True
    # partition dirs survive with their ORIGINAL value spelling
    dirs = sorted(d for d in os.listdir(path) if d.startswith("snapshot"))
    assert dirs == ["snapshot_date=2026-08-02", "snapshot_date=2026-8-1"]
    back = spark.read.parquet(path)
    assert "junk" not in back.columns and back.count() == 2
    # deleting the partition column itself is a re-layout — refused
    with pytest.raises(ValueError, match="PARTITION"):
        delete_column(spark, path, "snapshot_date")


def test_streaming_merge_sink_batch_mode_merges_without_writestream(
        spark, tmp_path):
    from eirepolitic_data_pipeline_spark.io.writers import MergeWriter
    from eirepolitic_data_pipeline_spark.operators.merge import WritePolicy
    from eirepolitic_data_pipeline_spark.streaming.jobs import (
        streaming_merge_sink)
    catalog = BatchCatalog(root=str(tmp_path / "wh"))
    writer = MergeWriter(catalog=catalog, spark=spark)
    pol = WritePolicy(mode="upsert", primary_key=("event_id",))
    batch = spark.createDataFrame(
        [("e1", "2026-08-13 10:00:00"), ("e1", "2026-08-13 10:00:00"),
         ("e2", "2026-08-13 11:00:00")],
        "event_id string, ts string").withColumn("ts", F.col("ts").cast("timestamp"))
    q = streaming_merge_sink(batch, writer, "events", pol, batch_id="b1")
    assert q is None                      # batch mode: applied once, no query
    got = catalog.read_table(spark, "events", batch_id="b1")
    assert got.count() == 2               # in-batch duplicate deduped


def test_llm_runner_null_ids_and_duplicate_existing(spark):
    from eirepolitic_data_pipeline_spark.enrich.llm import (
        LLMColumnConfig, LLMColumnRunner)
    def factory():
        return lambda prompt: "POSITIVE"
    cfg = LLMColumnConfig(
        output_col="sentiment", template="Classify: {text}",
        input_cols=["text"], allowed_values=("POSITIVE", "NEGATIVE"),
        id_col="id")
    runner = LLMColumnRunner(config=cfg, client_factory=factory)
    df = spark.createDataFrame(
        [(1, "good"), (None, "row without id"), (2, "fresh")],
        "id long, text string")
    # existing carries DUPLICATE rows for id=1 (two prior runs unioned)
    existing = spark.createDataFrame(
        [(1, "NEGATIVE"), (1, "NEGATIVE")], "id long, sentiment string")
    rows = runner.run(df, existing=existing).collect()
    assert len(rows) == 3                 # no multiplication, no vanishing
    out = {r["id"]: r["sentiment"] for r in rows}
    assert out[1] == "NEGATIVE" and out[2] == "POSITIVE"
    assert out[None] == cfg.fallback      # null id → fallback, row kept


def test_audio_peak_full_scale_negative(spark):
    import numpy as np
    from eirepolitic_data_pipeline_spark.enrich.multimodal import (
        audio_features, encode_raw_audio)
    blob = encode_raw_audio(np.array([-32768, 0, 100], dtype=np.int16))
    df = spark.createDataFrame([(1, "audio", bytearray(blob))],
                               "media_id long, kind string, content binary")
    row = audio_features(df).collect()[0]
    assert row["peak"] == 32768           # int16 abs would wrap to -32768


def test_public_profile_url_http_data_uri():
    from eirepolitic_data_pipeline_spark.enrich.scrape import (
        to_public_profile_url)
    assert to_public_profile_url(
        "http://data.oireachtas.ie/ie/oireachtas/member/id/X.Y/") \
        == "https://www.oireachtas.ie/en/members/member/X.Y/"
    assert to_public_profile_url(
        "https://data.oireachtas.ie/ie/oireachtas/member/id/X.Y") \
        == "https://www.oireachtas.ie/en/members/member/X.Y/"


def test_int_or_2dp_no_scientific_notation(spark):
    from eirepolitic_data_pipeline_spark.functions.scalar import (
        int_or_2dp, percent_string)
    df = spark.createDataFrame(
        [("12345678.5",), ("99999999999.25",), ("12.50",), ("7",)],
        "v string")
    got = [(r["i"], r["p"]) for r in df.select(
        int_or_2dp("v").alias("i"), percent_string("v").alias("p")).collect()]
    assert got == [("12345678.5", "12345678.5%"),
                   ("99999999999.25", "99999999999.3%"),
                   ("12.5", "12.5%"), ("7", "7%")]


def test_language_guess_detects_unsegmented_chinese(spark):
    from eirepolitic_data_pipeline_spark.functions.text import language_guess
    df = spark.createDataFrame(
        [("我是一个学生我不知道这是在哪里",), ("the cat and the dog",),
         ("xyzzy plugh",)], "text string")
    got = [r["g"] for r in
           df.select(language_guess("text").alias("g")).collect()]
    assert got == ["zh", "en", "und"]


def test_temporal_integrity_report_empty_frame_zeroes(spark):
    from eirepolitic_data_pipeline_spark.operators.temporal import (
        temporal_integrity_report)
    empty = spark.createDataFrame(
        [], "s date, e date, cur string")
    row = temporal_integrity_report(empty, "s", "e",
                                    is_current="cur").collect()[0]
    assert row["start_after_end"] == 0
    assert row["future_dated_current"] == 0


def test_point_in_interval_join_rejects_column_clash(spark):
    from eirepolitic_data_pipeline_spark.operators.temporal import (
        point_in_interval_join)
    pts = spark.createDataFrame(
        [(1, "2026-01-01 00:30:00")], "pid long, ts string") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    iv = spark.createDataFrame(
        [(9, "2026-01-01 00:00:00", "2026-01-01 01:00:00")],
        "pid long, s string, e string") \
        .withColumn("s", F.col("s").cast("timestamp")) \
        .withColumn("e", F.col("e").cast("timestamp"))
    with pytest.raises(ValueError, match="pid"):
        point_in_interval_join(pts, iv, "ts", "s", "e")


def test_registered_domain_trailing_dot_fqdn(spark):
    from eirepolitic_data_pipeline_spark.functions.urls import (
        registered_domain, url_host)
    df = spark.createDataFrame([("http://example.com./x",)], "u string")
    got = df.select(
        url_host(F.col("u")).alias("h"),
        registered_domain(url_host(F.col("u"))).alias("d")).first()
    assert got["h"] == "example.com"       # FQDN dot canonicalized away
    assert got["d"] == "example.com"


def test_profile_metrics_denominator_counts_blank_member_divisions(spark):
    from eirepolitic_data_pipeline_spark.tables.consumers import (
        member_profile_metrics)
    members = spark.createDataFrame(
        [("M1", "Ann Doe", "Carlow", "P1")],
        "member_code string, full_name string, constituency string, party string")
    votes = spark.createDataFrame(
        [("M1", "d1", "2025-01-01"), ("M1", "d2", "2025-01-02"),
         ("", "d3", "2025-01-03")],
        "member_code string, division_id string, division_date string")
    photos = spark.createDataFrame([], "member_code string, photo_url string")
    debates = spark.createDataFrame([], "member_code string, issue string")
    row = member_profile_metrics(members, votes, photos, debates,
                                 2025).collect()[0]
    # 3 divisions occurred (d3 only via a blank member row): 2/3 -> 67%
    assert row["vote_participation_pct_2025"] == 67


def test_speeches_from_xml_tolerates_null_and_malformed(spark):
    from eirepolitic_data_pipeline_spark.sources.xml import speeches_from_xml
    good = ('<akomaNtoso><debate><debateSection name="housing">'
            '<speech by="#p"><p>Fine point.</p></speech>'
            '</debateSection></debate></akomaNtoso>')
    df = spark.createDataFrame(
        [("d1", good), ("d2", None), ("d3", "<not-xml")],
        "debate_id string, xml string")
    rows = speeches_from_xml(df).collect()
    assert [r["debate_id"] for r in rows] == ["d1"]


def test_speech_text_fallback_excludes_speaker_attribution():
    from eirepolitic_data_pipeline_spark.sources.xml import parse_debate_xml
    xml = ('<akomaNtoso><debate><speech by="#p1">'
           '<from>Mr. John Smith</from>'
           '<summary>The budget passed.</summary></speech>'
           '</debate></akomaNtoso>')
    row = parse_debate_xml("d", xml.encode())[0]
    assert row["text"] == "The budget passed."
    assert row["word_count"] == 3
    assert row["speaker_name"] == "Mr. John Smith"


def test_page_signature_covers_whole_page():
    from eirepolitic_data_pipeline_spark.sources.rest import _page_signature
    shared = [{"id": i} for i in range(3)]
    a = _page_signature(shared + [{"id": 10}])
    b = _page_signature(shared + [{"id": 11}])
    assert a != b                        # prefix-only signature called these equal


def test_bisect_rejects_nonpositive_and_get_skips_final_sleep():
    from datetime import date
    from eirepolitic_data_pipeline_spark.sources.rest import (
        PaginatedRestSource, RetryPolicy, bisect_date_windows)
    with pytest.raises(ValueError, match="positive"):
        bisect_date_windows(date(2024, 1, 1), date(2024, 1, 9), 0)
    sleeps = []
    src = PaginatedRestSource(
        transport=lambda e, p: (500, {}),
        retry=RetryPolicy(retries=3, backoff_seconds=2.0,
                          sleep=sleeps.append))
    with pytest.raises(RuntimeError, match="exhausted"):
        src._get("/x", {})
    assert len(sleeps) == 2              # no sleep after the final attempt


def test_fetch_distributed_empty_windows(spark):
    from eirepolitic_data_pipeline_spark.sources.rest import (
        PaginatedRestSource, fetch_distributed)
    out = fetch_distributed(spark, PaginatedRestSource, "/x", [])
    assert out.columns == ["raw"] and out.count() == 0


def test_contract_freshness_survives_blank_dates(spark):
    from eirepolitic_data_pipeline_spark.plans.quality import contract_checks
    df = spark.createDataFrame(
        [("k1", "2026-08-13"), ("k2", "")],
        "pk string, snapshot_date string")
    results = contract_checks(df, required_columns=["pk"],
                              primary_key=["pk"], min_rows=1,
                              max_age_days=30,
                              freshness_col="snapshot_date")
    assert any("freshness" in r.name for r in results)  # suite completed


def test_swap_in_requires_incoming(tmp_path):
    from eirepolitic_data_pipeline_spark.io import atomic
    live = tmp_path / "data"
    live.mkdir(); (live / "f.txt").write_text("x")
    with pytest.raises(FileNotFoundError, match="incoming"):
        atomic.swap_in(str(live))
    assert (live / "f.txt").read_text() == "x"   # dataset never went offline


def test_csv_bom_refuses_silent_noop(spark, tmp_path):
    from eirepolitic_data_pipeline_spark.sources.files import write_csv_export
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    with pytest.raises(Exception):
        # unreachable-by-glob path (file URI scheme confuses local glob)
        write_csv_export(df, "memory-nonexistent://bucket/x", bom=True)
    # normal local path still works and gets the BOM
    p = str(tmp_path / "out")
    write_csv_export(df, p, bom=True, single_file=True)
    import glob as g
    part = g.glob(p + "/part-*.csv")[0]
    assert open(part, "rb").read().startswith(b"\xef\xbb\xbf")
