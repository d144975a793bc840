"""Regression tests for the round-5 self-review findings: catalog-level
promote shrink guard, merge fast-path provenance, plan-memo honesty,
one-shot tracking-key iterables, and null-safe source mixing."""

import pytest
from pyspark.sql import functions as F

from eirepolitic_data_pipeline_spark.io.catalog import BatchCatalog, CatalogError
from eirepolitic_data_pipeline_spark.io.writers import MergeWriter
from eirepolitic_data_pipeline_spark.operators.merge import WritePolicy


def test_catalog_promote_shrink_guard_is_caller_independent(spark, tmp_path):
    """The shrink guard lives in catalog.promote itself: ANY caller passing
    the self-referential batch_tables(batch_id) expectation (run_refresh
    does exactly this) is refused when the batch serves fewer tables than
    production."""
    catalog = BatchCatalog(root=str(tmp_path / "wh"))
    df = spark.createDataFrame([(1, "x")], "k long, v string")
    catalog.write_table(df, "t1", "b1")
    catalog.write_table(df, "t2", "b1")
    catalog.promote("b1", catalog.batch_tables("b1"))

    catalog.write_table(df, "t1", "b2")  # subset of production
    with pytest.raises(CatalogError, match="t2"):
        catalog.promote("b2", catalog.batch_tables("b2"))
    assert catalog.production_batch_id() == "b1"
    catalog.promote("b2", catalog.batch_tables("b2"), allow_shrink=True)
    assert catalog.production_batch_id() == "b2"


def test_antijoin_fast_path_requires_history_provenance(spark, tmp_path):
    """History holding duplicate PKs (merged under an earlier APPEND
    policy) must go through the window merge — which collapses the dups —
    not the anti-join form, which would retain them forever. The manifest's
    merge_pk provenance is what gates the fast path."""
    catalog = BatchCatalog(root=str(tmp_path / "wh"))
    writer = MergeWriter(catalog=catalog, spark=spark)
    append_pol = WritePolicy(mode="append", primary_key=("k",))
    upsert_pol = WritePolicy(mode="upsert", primary_key=("k",))

    dup = spark.createDataFrame([(1, "a"), (1, "b"), (2, "c")],
                                "k long, v string")
    writer.write(dup, "fact", append_pol, batch_id="b1")
    assert catalog.table_entry("fact", "b1").get("merge_pk") == []
    catalog.promote("b1", ["fact"])

    delta = spark.createDataFrame([(2, "c2"), (3, "d")], "k long, v string")
    writer.write(delta, "fact", upsert_pol, batch_id="b2",
                 bucket_by=("k",), num_buckets=4)
    merged = catalog.read_table(spark, "fact", batch_id="b2")
    rows = {tuple(r) for r in merged.collect()}
    # window form ran: the duplicate k=1 history rows collapsed to one
    assert sorted(k for k, _ in rows) == [1, 2, 3]
    assert (2, "c2") in rows and (3, "d") in rows
    # ...and the OUTPUT now carries the provenance, so the next refresh of
    # this bucketed table is eligible for the shuffle-free anti-join form
    assert catalog.table_entry("fact", "b2").get("merge_pk") == ["k"]


def test_antijoin_fast_path_engages_with_provenance(spark, tmp_path):
    """Counterpart to the fallback test: history whose manifest records the
    matching merge_pk provenance DOES take the anti-join form — the gate
    must not degrade every bucketed merge to the window shape. (The join
    shape is read off the writer's last_merge_form hook; the zero-Exchange
    plan property is asserted directly on merge_upsert_antijoin in
    test_bucketing.)"""
    catalog = BatchCatalog(root=str(tmp_path / "wh"))
    writer = MergeWriter(catalog=catalog, spark=spark)
    pol = WritePolicy(mode="upsert", primary_key=("k",))
    hist = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    writer.write(hist, "fact", pol, batch_id="b1",
                 bucket_by=("k",), num_buckets=4)
    assert writer.last_merge_form == "window"  # first write: no history
    assert catalog.table_entry("fact", "b1").get("merge_pk") == ["k"]
    catalog.promote("b1", ["fact"])

    delta = spark.createDataFrame([(2, "b2")], "k long, v string")
    writer.write(delta, "fact", pol, batch_id="b2",
                 bucket_by=("k",), num_buckets=4)
    merged = catalog.read_table(spark, "fact", batch_id="b2")
    assert writer.last_merge_form == "antijoin"
    assert {tuple(r) for r in merged.collect()} == {(1, "a"), (2, "b2")}


def test_q50_builder_is_not_memoized(spark):
    """q50's construction localCheckpoints the winnowing kernel's output;
    memoizing the built frame would turn repeated harness passes into
    result-cache reads. Every call must build (and so re-run) afresh,
    while plain builders still memoize per (session, sf_dir)."""
    from eirepolitic_data_pipeline_spark import workload
    qs = workload.queries()
    sf = "/root/testdata/sf0.001"
    a = qs["q50_winnow_neardup_pairs"](spark, sf)
    b = qs["q50_winnow_neardup_pairs"](spark, sf)
    assert a is not b
    c = qs["q28_text_stats"](spark, sf)
    d = qs["q28_text_stats"](spark, sf)
    assert c is d


def test_canonical_url_accepts_one_shot_iterable(spark):
    """A generator passed as tracking_keys must not be exhausted before the
    regex join — the silent failure mode is an empty alternation that
    strips nothing."""
    from eirepolitic_data_pipeline_spark.functions.urls import canonical_url
    df = spark.createDataFrame(
        [("https://example.com/p?sessionid=9&x=1",)], "u string")
    got = df.select(canonical_url(
        F.col("u"), tracking_keys=(k for k in ["sessionid"]))
        .alias("c")).first()["c"]
    assert got == "https://example.com/p?x=1"


def test_merge_duplicate_incoming_pk_is_deterministic(spark):
    """Two same-PK rows in ONE incoming batch (same priority class) must
    produce the same winner on every run — the window now carries a total
    tiebreak over the payload columns, so the outcome cannot depend on
    shuffle delivery order."""
    from eirepolitic_data_pipeline_spark.operators.merge import (
        WritePolicy, merge_for_policy)
    pol = WritePolicy(mode="upsert", primary_key=("k",))
    inc = spark.createDataFrame(
        [(1, "a"), (1, "z"), (2, "m")], "k long, v string")
    winners = set()
    for n_parts in (1, 4, 7):
        got = merge_for_policy(None, inc.repartition(n_parts), pol)
        winners.add(tuple(sorted(map(tuple, got.collect()))))
    # one outcome across parallelism degrees, and it is the tiebreak max
    assert winners == {((1, "z"), (2, "m"))}


def test_append_first_write_keeps_duplicates(spark):
    """An append policy with a declared primary key must NOT dedupe the
    first batch: later appends keep every row, so first-batch dedupe would
    make contents depend on arrival timing."""
    from eirepolitic_data_pipeline_spark.operators.merge import (
        WritePolicy, merge_for_policy)
    pol = WritePolicy(mode="append", primary_key=("k",))
    first = spark.createDataFrame([(1, "a"), (1, "b")], "k long, v string")
    assert merge_for_policy(None, first, pol).count() == 2
    nxt = spark.createDataFrame([(1, "c")], "k long, v string")
    assert merge_for_policy(first, nxt, pol).count() == 3


def test_string_ids_through_pandas_kernels(spark):
    """The Arrow kernels must derive the id type from the input frame — a
    hardcoded 'long' crashes Arrow conversion for string ids."""
    from eirepolitic_data_pipeline_spark.operators.dedupe import (
        winnowed_fingerprint_frame)
    from eirepolitic_data_pipeline_spark.operators.similarity import knn
    docs = spark.createDataFrame(
        [("doc-a", "the quick brown fox jumps over the lazy dog")],
        "doc_id string, text string")
    fpf = winnowed_fingerprint_frame(docs, "doc_id", "text", k=5, window=4)
    assert fpf.first()["doc_id"] == "doc-a"

    vecs = spark.createDataFrame(
        [("v1", [1.0, 0.0]), ("v2", [0.8, 0.2])],
        "vec_id string, embedding array<double>")
    queries = vecs.filter(F.col("vec_id") == "v1")
    rows = knn(vecs, queries, k=1).collect()
    assert rows[0]["neighbor_id"] == "v2"


def test_stratified_sample_scalar_keys(spark):
    """Single-stratum-column fraction maps with scalar keys (the natural
    spelling) must work — not be iterated character by character."""
    from eirepolitic_data_pipeline_spark.operators.curation import (
        stratified_sample)
    df = spark.createDataFrame(
        [("news", i) for i in range(200)] + [("blog", i) for i in range(200, 400)],
        "source string, doc_id long")
    out = stratified_sample(df, ["source"], {"news": 1.0}, "doc_id")
    got = out.groupBy("source").count().collect()
    assert {r["source"]: r["count"] for r in got} == {"news": 200}
    # int scalar keys stringify against the cast join too
    df2 = spark.createDataFrame(
        [(2024, 1), (2025, 2)], "yr int, doc_id long")
    assert stratified_sample(df2, ["yr"], {2024: 1.0}, "doc_id").count() == 1


def test_simhash_refuses_bits_past_md5(spark):
    """bits > 64 would read past md5's 32 nibbles x 2 usable bits and emit
    constant '0' bits — every doc colliding in the bands that cover them.
    Refuse. (r6 widened the recipe from 32 to 64 bits: high + low nibble
    bits; 64 itself is the corpus-scale configuration and must work.)"""
    import pytest as _pytest

    from eirepolitic_data_pipeline_spark.operators.dedupe import (
        simhash_signatures)
    df = spark.createDataFrame([(1, "hello world")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="64"):
        simhash_signatures(df, bits=65)
    with _pytest.raises(ValueError, match="64"):
        simhash_signatures(df, bits=128)
    assert len(simhash_signatures(df, bits=64).collect()[0]["simhash"]) == 64


def test_min_label_components_raises_on_nonconvergence(spark):
    """A chain whose diameter exceeds max_iters must fail loudly — silent
    intermediate labels would under-dedup every caller. Forces the
    distributed loop (small_graph_max_edges=0): the r8 union-find fast
    path is exact and never hits the bound."""
    from eirepolitic_data_pipeline_spark.operators.dedupe import (
        min_label_components)
    n = 8
    ids = spark.createDataFrame([(i,) for i in range(n)], "id long")
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long")
    with pytest.raises(RuntimeError, match="converge"):
        min_label_components(ids, chain, max_iters=2,
                             small_graph_max_edges=0)
    done = min_label_components(ids, chain, max_iters=n,
                                small_graph_max_edges=0)
    assert {r["canonical_id"] for r in done.collect()} == {0}
    # the fast path must agree with the loop on the same graph
    fast = min_label_components(ids, chain, max_iters=2)
    assert {r["canonical_id"] for r in fast.collect()} == {0}


def test_knn_lsh_pluggable_bucketer(spark):
    """hashed_projection_bucket must be usable as the SignLSH quantizer's
    bucket (multiprobe bit flips operate on its output too)."""
    from eirepolitic_data_pipeline_spark.operators.similarity import (
        SignLSH, knn)
    rows = [(1, [1.0, 0.5]), (2, [0.9, 0.4]), (3, [-1.0, -0.5])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter("vec_id = 1")
    got = knn(df, q, k=2,
              quantizer=SignLSH(n_bits=4, probe_flips=True, dim=2))
    assert got.filter("query_id = 1").count() >= 1


def test_test_mode_builds_are_unpromotable(spark, tmp_path):
    """A --mode test build records manifest status='test', which
    validate_batch refuses — the CLI's default test mode can never land a
    truncated sample in production (mirrors the reference's
    --publish-latest auto guard)."""
    from eirepolitic_data_pipeline_spark.jobs.build_table import build_table
    from eirepolitic_data_pipeline_spark.plans.default_tables import (
        DEFAULT_TABLES_CONFIG)
    from eirepolitic_data_pipeline_spark.plans.registry import TableRegistry
    import json as _json
    import os as _os

    registry = TableRegistry.from_dict(DEFAULT_TABLES_CONFIG)
    catalog = BatchCatalog(root=str(tmp_path / "wh"))
    raw = tmp_path / "raw"
    raw.mkdir()
    payload = {"results": [{"member": {
        "memberCode": "TD001", "showAs": "Aoife Byrne",
        "uri": "/ie/oireachtas/member/id/TD001"}}]}
    (raw / "members.jsonl").write_text(_json.dumps(payload) + "\n")
    res = build_table(spark, catalog, registry, "silver_members",
                      batch_id="bt", raw_root=str(raw), mode="test",
                      snapshot_date="2026-08-14")
    assert res.row_count == 1
    assert catalog.table_entry("silver_members", "bt")["status"] == "test"
    problems = catalog.validate_batch("bt", ["silver_members"])
    assert any("status='test'" in p for p in problems)
    with pytest.raises(CatalogError, match="status"):
        catalog.promote("bt", ["silver_members"])


def test_compact_csv_preserves_header(spark, tmp_path):
    """compact_dataset must read CSV with header=True like its own
    rewrite does — a headerless read turns header lines into data rows
    and renames every column to _c0/_c1 (confirmed corruption)."""
    from eirepolitic_data_pipeline_spark.io.maintenance import compact_dataset
    p = str(tmp_path / "ds")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, keep string")
    df.repartition(2).write.option("header", True).csv(p)
    compact_dataset(spark, p, fmt="csv")
    back = spark.read.option("header", True).csv(p)
    assert back.columns == ["id", "keep"]
    assert back.count() == 2


def test_hive_maintenance_heals_crashed_leaf_swap(spark, tmp_path):
    """A leaf stranded mid-swap at 'col=value.__replaced' (live dir gone)
    must be healed by the next maintenance run, not compacted under the
    bogus partition name — and swap siblings must never be listed as
    partitions."""
    import os

    from eirepolitic_data_pipeline_spark.io.maintenance import compact_dataset
    root = str(tmp_path / "ds")
    df = spark.createDataFrame(
        [(1, "a", "2024"), (2, "b", "2025")], "id int, v string, y string")
    df.write.partitionBy("y").parquet(root)
    # simulate a crash between swap_in's two renames on the y=2024 leaf
    os.rename(os.path.join(root, "y=2024"),
              os.path.join(root, "y=2024.__replaced"))
    stats = compact_dataset(spark, root)
    assert stats["partitions"] == 2          # both leaves compacted
    assert os.path.isdir(os.path.join(root, "y=2024"))   # healed back
    assert not os.path.isdir(os.path.join(root, "y=2024.__replaced"))
    back = spark.read.parquet(root)
    # str(): the plain read type-infers the partition values as ints
    assert {str(r["y"]) for r in back.select("y").distinct().collect()} == \
        {"2024", "2025"}


def test_fetch_with_fallback_propagates_pagination_signals():
    """OffsetCeilingError is a bisection SIGNAL from a healthy endpoint —
    fetch_with_fallback must re-raise it, not silently switch endpoints
    and truncate the dataset to the fallback's contents."""
    from eirepolitic_data_pipeline_spark.sources.rest import (
        OffsetCeilingError, fetch_with_fallback)

    class _Src:
        def fetch_all(self, endpoint, params=None, limit=None):
            if endpoint == "/primary":
                raise OffsetCeilingError("offset ceiling at 10000")
            return [{"row": 1}], {"pages": 1}

    with pytest.raises(OffsetCeilingError):
        fetch_with_fallback(_Src(), ["/primary", "/fallback"])

    class _Dead:
        def fetch_all(self, endpoint, params=None, limit=None):
            if endpoint == "/primary":
                raise ConnectionError("boom")   # transport: falls through
            return [{"row": 1}], {"pages": 1}

    rows, tele = fetch_with_fallback(_Dead(), ["/primary", "/fallback"])
    assert rows and tele["endpoint"] == "/fallback"


def test_registry_rejects_unknown_type_and_layer():
    """Config typos must fail at registry load, not silently become string
    columns or crash in_build_order with a bare KeyError."""
    from eirepolitic_data_pipeline_spark.plans.registry import TableRegistry
    base = {"tables": {"silver_x": {
        "columns": [{"n": "biginteger"}], "primary_key": ["n"]}}}
    with pytest.raises(ValueError, match="biginteger"):
        TableRegistry.from_dict(base)
    bad_layer = {"tables": {"x": {
        "columns": ["n"], "primary_key": ["n"], "layer": "bronze"}}}
    with pytest.raises(ValueError, match="bronze"):
        TableRegistry.from_dict(bad_layer)
    # 'float' is a declared type, not a typo
    ok = {"tables": {"silver_y": {"columns": [{"score": "float"}],
                                  "primary_key": ["score"]}}}
    reg = TableRegistry.from_dict(ok)
    assert reg["silver_y"].schema["score"].dataType.simpleString() == "float"


def test_write_range_sorted_rejects_nonpositive_num_files(spark, tmp_path):
    from eirepolitic_data_pipeline_spark.io.bucketing import write_range_sorted
    df = spark.createDataFrame([(1,)], "id int")
    with pytest.raises(ValueError, match="positive"):
        write_range_sorted(df, str(tmp_path / "o"), ["id"], num_files=0)


def test_sample_video_frames_null_duration(spark):
    """A NULL duration_ms (NaN via Arrow) must yield zero frames for the
    row, not kill the task (int(NaN) raises; NaN is truthy so `or 0`
    didn't help)."""
    from eirepolitic_data_pipeline_spark.enrich.multimodal import (
        sample_video_frames)
    df = spark.createDataFrame(
        [(1, "video", bytearray(b"abc"), None),
         (2, "video", bytearray(b"xyz"), 2500)],
        "media_id long, kind string, content binary, duration_ms long")
    rows = sample_video_frames(df, every_ms=1000, fake=True).collect()
    assert {r["media_id"] for r in rows} == {2}
    assert len(rows) == 2


def test_truncated_raw_headers_raise_value_error():
    """Truncated RAWI/RAWV/RAWA headers must raise ValueError (the decode
    stages' fallback dispatch catches ValueError only — struct.error would
    escape and kill the task)."""
    from eirepolitic_data_pipeline_spark.enrich.multimodal import (
        decode_raw_audio, decode_raw_image, decode_raw_video)
    for fn, blob in ((decode_raw_image, b"RAWI\x05"),
                     (decode_raw_video, b"RAWV\x05"),
                     (decode_raw_audio, b"RAWA\x01")):
        with pytest.raises(ValueError, match="truncated"):
            fn(blob)


def test_extract_video_frames_tolerates_corrupt_rawv(spark):
    """A well-magic'd RAWV blob with a truncated payload must hit the same
    fake-frame fallback as any other undecodable blob (fake=True) — never
    abort the stage, never emit zero rows for the media_id."""
    from eirepolitic_data_pipeline_spark.enrich.multimodal import (
        encode_raw_video, extract_video_frames)
    import numpy as np
    good = encode_raw_video([np.zeros((2, 2, 3), dtype=np.uint8)])
    corrupt = good[:-3]                      # payload size mismatch
    df = spark.createDataFrame(
        [(1, "video", bytearray(good)), (2, "video", bytearray(corrupt))],
        "media_id long, kind string, content binary")
    rows = extract_video_frames(df, fake=True).collect()
    # both media ids survive: id 1 with real frames, id 2 with fake ones
    assert {r["media_id"] for r in rows} == {1, 2}


def test_llm_runner_duplicate_ids_do_not_fan_out(spark):
    """k same-id rows must come back as k rows with ONE answer per id —
    not k*k rows with answers cross-assigned between payloads."""
    from eirepolitic_data_pipeline_spark.enrich.llm import (
        LLMColumnConfig, LLMColumnRunner)

    def factory():
        return lambda prompt: "x"

    cfg = LLMColumnConfig(
        output_col="answer", template="classify: {text}",
        input_cols=["text"], allowed_values=("x", "y"), id_col="id")
    runner = LLMColumnRunner(config=cfg, client_factory=factory)
    df = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c")], "id long, text string")
    out = runner.run(df).collect()
    assert len(out) == 3
    assert all(r["answer"] == "x" for r in out)


def test_snake_case_ascii_folds(spark):
    """The reference NFKD-folds before the underscore pass: accented
    letters become folded letters, not underscores."""
    from eirepolitic_data_pipeline_spark.functions.scalar import snake_case
    df = spark.createDataFrame([("Dáil Éireann",)], "v string")
    assert df.select(snake_case("v").alias("s")).first()["s"] == \
        "dail_eireann"


def test_stable_record_hash_requires_names(spark):
    from pyspark.sql import functions as SF

    from eirepolitic_data_pipeline_spark.functions.scalar import (
        stable_record_hash)
    with pytest.raises(TypeError, match="NAMES"):
        stable_record_hash(SF.trim("a"))


def test_parse_scores_rejects_duplicate_ids():
    """'every id exactly once' means a duplicate id fails validation and
    triggers the repair re-prompt, not silent last-entry-wins."""
    import json

    from eirepolitic_data_pipeline_spark.enrich.batch_scoring import (
        parse_scores)
    payload = json.dumps([
        {"candidate_id": "a", "score": 90},
        {"candidate_id": "a", "score": 5},
        {"candidate_id": "b", "score": 50}])
    with pytest.raises(ValueError, match="Duplicates"):
        parse_scores(payload, ["a", "b"])


def test_parse_scores_duplicate_with_unparseable_second():
    """A repeated id whose second score is unparseable is still a
    duplicate — the check must run before score parsing."""
    import json

    from eirepolitic_data_pipeline_spark.enrich.batch_scoring import (
        parse_scores)
    payload = json.dumps([
        {"candidate_id": "a", "score": 90},
        {"candidate_id": "a", "score": "high"},
        {"candidate_id": "b", "score": 50}])
    with pytest.raises(ValueError, match="Duplicates"):
        parse_scores(payload, ["a", "b"])


def test_score_batch_dedupes_input_ids():
    """Duplicate input ids must be deduped before prompting: a model that
    answers every listed candidate would otherwise fail exactly-once
    validation on every retry."""
    import json

    from eirepolitic_data_pipeline_spark.enrich.batch_scoring import (
        BatchScoreConfig, BatchScoreRunner)

    def client(prompt: str) -> str:
        # the candidates payload is the LAST JSON array in the prompt
        # (the rules section above it also contains brackets)
        ids = [item["candidate_id"]
               for item in json.loads(prompt[prompt.rindex("\n["):])]
        return json.dumps([{"candidate_id": i, "score": 42} for i in ids])

    cfg = BatchScoreConfig(instructions="score these")
    runner = BatchScoreRunner(config=cfg, client_factory=lambda: client)
    records = [{"candidate_id": "a", "sentence": "x"},
               {"candidate_id": "a", "sentence": "x-dup"},
               {"candidate_id": "b", "sentence": "y"}]
    scores = runner.score_batch(client, records)
    assert scores == {"a": 42, "b": 42}


def test_snake_case_folds_nfd_input(spark):
    """Decomposed (NFD) accents fold to the same letters as precomposed
    (NFC) — a combining mark must not become an underscore."""
    import unicodedata

    from eirepolitic_data_pipeline_spark.functions.scalar import snake_case
    nfd = unicodedata.normalize("NFD", "Dáil Éireann")
    assert nfd != "Dáil Éireann"            # actually decomposed
    df = spark.createDataFrame([(nfd,)], "v string")
    assert df.select(snake_case("v").alias("s")).first()["s"] == \
        "dail_eireann"


def test_mean_word_len_excludes_whitespace(spark):
    """mean_word_len is sum(len(word))/n_words (Gopher/C4 definition):
    'aa bb' is 2.0, not 2.5."""
    from eirepolitic_data_pipeline_spark.functions.text import (
        quality_features)
    df = spark.createDataFrame([("aa bb",)], "text string")
    q = quality_features("text")
    assert df.select(q["mean_word_len"].alias("m")).first()["m"] == 2.0


def test_redact_pii_covers_every_declared_pattern(spark):
    """redact_pii iterates PII_PATTERNS, so every kind pii_counts reports
    is also scrubbed — the two halves cannot silently diverge."""
    from eirepolitic_data_pipeline_spark.functions import text as tx
    df = spark.createDataFrame(
        [("mail a@b.ie ip 10.0.0.7 tel +353 1 234 5678",)], "t string")
    got = df.select(tx.redact_pii("t").alias("r")).first()["r"]
    for kind in tx.PII_PATTERNS:
        counts = df.select(
            tx.pii_counts("t")[f"n_{kind}"].alias("n")).first()["n"]
        assert counts >= 1, kind
    assert got.count("[PII]") == 3


def test_mix_sources_null_and_null_sentinel_are_distinct_groups(spark):
    """A source literally named '__null__' and a NULL source are different
    groups: each keeps its own count/quota (the join is null-safe, not a
    coalesce to an in-band sentinel)."""
    from eirepolitic_data_pipeline_spark.operators.curation import mix_sources
    rows = ([("__null__", i) for i in range(40)]
            + [(None, i) for i in range(40, 50)])
    df = spark.createDataFrame(rows, "source string, doc_id long")
    out = mix_sources(df, "source", "doc_id", alpha=1.0).collect()
    # alpha=1, no target: natural proportions — everything is kept, and
    # both groups survive with weight 1
    assert len(out) == 50
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r["mix_weight"])
    assert len(by_src[None]) == 10
    assert len(by_src["__null__"]) == 40
    assert all(w == 1.0 for ws in by_src.values() for w in ws)


def test_minhash_band_geometry_validated(spark):
    """band_rows that does not divide num_hashes (or exceeds it) must be
    refused loudly: flooring the band count silently discards trailing
    hashes, and 0 bands would disable near-dup dedup entirely while the
    report shows every doc as its own canonical."""
    from eirepolitic_data_pipeline_spark.operators.dedupe import (
        minhash_lsh_candidates)
    docs = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    with pytest.raises(ValueError, match="divide"):
        minhash_lsh_candidates(docs, num_hashes=8, band_rows=16)
    with pytest.raises(ValueError, match="divide"):
        minhash_lsh_candidates(docs, num_hashes=32, band_rows=5)
    with pytest.raises(ValueError, match=">= 1"):
        minhash_lsh_candidates(docs, num_hashes=8, band_rows=0)


def test_curate_stages_validate_before_any_stage(spark):
    """Bad near-dup geometry or split weights surface at the FIRST
    generator advance — before the quality/line/exact stages compute."""
    from eirepolitic_data_pipeline_spark.operators.curation import (
        curate_corpus_stages)
    docs = spark.createDataFrame([(1, "a b c d e f", "s")],
                                 "doc_id long, text string, source string")
    with pytest.raises(ValueError, match="band_rows"):
        next(iter(curate_corpus_stages(docs, near_dup_hashes=8,
                                       near_dup_band_rows=3)))
    with pytest.raises(ValueError, match="fractions"):
        next(iter(curate_corpus_stages(
            docs, split_weights={"train": 1.5, "test": -0.5})))


def test_split_column_rejects_out_of_range_fractions(spark):
    """Compensating specs that sum to 1 but hold out-of-range fractions
    (train=1.5,test=-0.5) must be refused — the thresholds they produce
    silently empty one split and overfill another."""
    from eirepolitic_data_pipeline_spark.operators.curation import split_column
    with pytest.raises(ValueError, match="fractions"):
        split_column("k", {"train": 1.5, "test": -0.5})
    with pytest.raises(ValueError, match="at least one"):
        split_column("k", {})


def test_curate_empty_partitioned_output_stays_readable(spark, tmp_path):
    """A curation run whose gates drop EVERY row must still commit a
    readable (schema-bearing) dataset under --partition-by-split: a 0-row
    partitionBy write emits only _SUCCESS, which would otherwise replace
    the previous good output with an uninferrable path and crash the
    read-back."""
    from eirepolitic_data_pipeline_spark.jobs.curate import run_curate
    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    spark.createDataFrame([(1, "x", "s")],  # 1 token < min_tokens -> dropped
                          "doc_id long, text string, source string"
                          ).write.parquet(src)
    summary = run_curate(spark, src, out, partition_by_split=True)
    assert summary["output_rows"] == 0
    back = spark.read.parquet(out)
    assert "split" in back.columns and back.count() == 0


def test_curate_corpus_persists_stage_boundaries(spark):
    """curate_corpus caches its stage boundaries and keeps every row.
    Asserted on the result's own plan — an InMemoryRelation can only
    appear there if a stage boundary was cached (global persisted-RDD
    counts are perturbed by min_label_components' internal
    persist/localCheckpoint and the context cleaner, so they are not a
    stable signal)."""
    from eirepolitic_data_pipeline_spark.operators.curation import curate_corpus
    rows = [(i, f"alpha beta gamma delta epsilon doc{i}", "s")
            for i in range(6)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string")
    cached = curate_corpus(docs)
    plan_cached = cached._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" in plan_cached
    assert {r["doc_id"] for r in cached.collect()} == set(range(6))


def test_coverage_pct_zero_row_table_is_formatted(spark):
    """An EXISTING pair table with zero rows must report '0.00', not a
    NULL cell in the all-string report (empty-aggregate sum is NULL)."""
    from eirepolitic_data_pipeline_spark.plans.reports import (
        ComparisonPair, cutover_comparison_report)
    empty = spark.createDataFrame([], "member_code string, v string")
    full = spark.createDataFrame([("m1", "x")], "member_code string, v string")
    pair = ComparisonPair("p", "l", "u", "member_code", "member_code")
    row = cutover_comparison_report(
        spark, [pair],
        {"l": empty, "u": full}.get).collect()[0]
    assert row["legacy_join_coverage_pct"] == "0.00"
    assert row["unified_join_coverage_pct"] == "100.00"


def test_trial_report_single_join_key_stats(spark):
    """The trial report's key metrics all come from one full-outer join of
    the distinct key sets — same numbers as the semi/anti form it
    replaced, including the both-empty NULL-sum edge."""
    from eirepolitic_data_pipeline_spark.plans.reports import (
        member_profile_trial_report)
    legacy = spark.createDataFrame(
        [("m1", 1), ("m2", 1), ("", 1), (None, 1)], "member_code string, v int")
    trial = spark.createDataFrame(
        [("m2", 1), ("m3", 1), ("m3", 2)], "member_code string, v int")
    got = {r["check_name"]: (r["legacy_value"], r["trial_value"])
           for r in member_profile_trial_report(spark, legacy, trial).collect()}
    assert got["legacy_member_count"] == ("2", "")
    assert got["trial_member_count"] == ("", "2")
    assert got["matched_member_count"] == ("2", "1")
    assert got["trial_only_member_count"] == ("", "1")
    assert got["legacy_only_member_count"] == ("1", "")
    # both-empty: every key stat must be 0, not NULL
    e = spark.createDataFrame([], "member_code string, v int")
    got0 = {r["check_name"]: (r["legacy_value"], r["trial_value"])
            for r in member_profile_trial_report(spark, e, e).collect()}
    assert got0["matched_member_count"] == ("0", "0")
    assert got0["trial_only_member_count"] == ("", "0")


def test_render_markdown_cell_sanitization():
    """CRs are scrubbed and truncation happens before escaping, so a cell
    cut at the limit can never end in a dangling escape backslash."""
    from eirepolitic_data_pipeline_spark.plans.reports import (
        render_markdown_report)

    class FakeRow(dict):
        def __getitem__(self, k):
            return dict.__getitem__(self, k)

    class FakeDF:
        columns = ["a"]
        def collect(self):
            return [FakeRow(a="x" * 299 + "|tail\r\nmore")]

    out = render_markdown_report("t", FakeDF(), max_cell=300)
    row = out.splitlines()[4]
    assert "\r" not in out
    # the pipe at position 299 survives truncation and is escaped WHOLE —
    # the escape-then-truncate order this replaced would have cut the
    # escape to a dangling backslash ("...x\\" with the pipe gone)
    assert row.endswith("\\| |")
    assert row.count("\\|") == 1


def test_streaming_merge_sink_snapshot_epochs_arrive_complete(spark, tmp_path):
    """snapshot_replace epochs must NOT be id-stripped by cross-batch
    dedup: a later full snapshot re-delivers every row, and removing the
    already-seen ids would make the wholesale replace silently drop them
    from the table."""
    from eirepolitic_data_pipeline_spark.io.catalog import BatchCatalog
    from eirepolitic_data_pipeline_spark.io.writers import MergeWriter
    from eirepolitic_data_pipeline_spark.operators.merge import WritePolicy
    from eirepolitic_data_pipeline_spark.streaming.jobs import (
        streaming_merge_sink)

    catalog = BatchCatalog(root=str(tmp_path / "wh"))
    writer = MergeWriter(catalog=catalog, spark=spark)
    pol = WritePolicy(mode="snapshot_replace", primary_key=("event_id",))
    src_dir = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    schema = "event_id long, ts timestamp, value double"

    def snap(rows, name):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append").parquet(src_dir)

    import datetime as dt
    t0 = dt.datetime(2024, 1, 1)
    snap([(1, t0, 1.0), (2, t0, 2.0)], "s1")
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1).parquet(src_dir)
    q = streaming_merge_sink(stream, writer, "snap", pol, batch_id="b1",
                             checkpoint_dir=ckpt)
    q.awaitTermination(120)

    # second run: the FULL snapshot again plus a new row
    snap([(1, t0, 1.0), (2, t0, 2.0), (3, t0, 3.0)], "s2")
    stream2 = spark.readStream.schema(schema).parquet(src_dir)
    q2 = streaming_merge_sink(stream2, writer, "snap", pol, batch_id="b1",
                              checkpoint_dir=ckpt)
    q2.awaitTermination(120)
    got = {r["event_id"] for r in
           catalog.read_table(spark, "snap", batch_id="b1").collect()}
    assert got == {1, 2, 3}  # rows 1,2 must survive the replace


def test_fast_path_falls_back_on_null_composite_pk(spark, tmp_path):
    """A null component in a composite PK never matches the fast path's
    plain-equality anti-join (old row kept AND new row appended, then the
    merge_pk stamp keeps compounding it); the writer must detect the null
    in the delta and take the window form."""
    from eirepolitic_data_pipeline_spark.io.catalog import BatchCatalog
    from eirepolitic_data_pipeline_spark.io.writers import MergeWriter
    from eirepolitic_data_pipeline_spark.operators.merge import WritePolicy

    catalog = BatchCatalog(root=str(tmp_path / "wh"))
    writer = MergeWriter(catalog=catalog, spark=spark)
    pol = WritePolicy(mode="upsert", primary_key=("a", "b"))
    hist = spark.createDataFrame([(1, None, "old"), (2, "x", "old")],
                                 "a long, b string, v string")
    writer.write(hist, "t", pol, batch_id="b1",
                 bucket_by=("a", "b"), num_buckets=4)
    catalog.promote("b1", ["t"])
    delta = spark.createDataFrame([(1, None, "new")],
                                  "a long, b string, v string")
    writer.write(delta, "t", pol, batch_id="b2",
                 bucket_by=("a", "b"), num_buckets=4)
    got = catalog.read_table(spark, "t", batch_id="b2")
    rows = {(r["a"], r["b"]): r["v"] for r in got.collect()}
    assert rows == {(1, None): "new", (2, "x"): "old"}


def test_vanished_table_dir_refuses_history_reset(spark, tmp_path):
    """PATH_NOT_FOUND while the production manifest RECORDS the table is
    corruption, not first-write: the merge must refuse instead of
    silently resetting retained history to the incoming batch."""
    import shutil

    from eirepolitic_data_pipeline_spark.io.catalog import (
        BatchCatalog, CatalogError)
    from eirepolitic_data_pipeline_spark.io.writers import MergeWriter
    from eirepolitic_data_pipeline_spark.operators.merge import WritePolicy

    catalog = BatchCatalog(root=str(tmp_path / "wh"))
    writer = MergeWriter(catalog=catalog, spark=spark)
    pol = WritePolicy(mode="upsert", primary_key=("k",))
    df = spark.createDataFrame([("k1", "v1")], "k string, v string")
    writer.write(df, "t", pol, batch_id="b1")
    catalog.promote("b1", ["t"])

    # find and delete the table's data dir out from under the catalog
    data_dirs = [p for p in (tmp_path / "wh").rglob("t")
                 if p.is_dir() and any(p.glob("*.parquet"))]
    assert data_dirs, "fixture: expected a data dir for table t"
    for p in data_dirs:
        shutil.rmtree(p)
    with pytest.raises(CatalogError, match="missing"):
        writer.write(df, "t", pol, batch_id="b2")


def test_dedup_events_stream_batch_keeps_newest_deterministically(spark):
    """The batch branch keeps the newest-ts version of a re-delivered id
    (total-order tiebreak), never an arbitrary shuffle winner."""
    import datetime as dt

    from eirepolitic_data_pipeline_spark.streaming.jobs import (
        dedup_events_stream)
    t1, t2 = dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2)
    df = spark.createDataFrame(
        [(1, t1, "v-old"), (1, t2, "v-new"), (2, t1, "w")],
        "event_id long, ts timestamp, payload string")
    got = {r["event_id"]: r["payload"]
           for r in dedup_events_stream(df).collect()}
    assert got == {1: "v-new", 2: "w"}


def test_salted_default_salt_skips_map_columns(spark):
    """F.hash rejects map-typed columns, so the default salt must exclude
    them instead of failing on any frame carrying a map attribute."""
    from eirepolitic_data_pipeline_spark.operators.ranking import (
        top_n_per_group)
    from eirepolitic_data_pipeline_spark.operators.skew import salted_top_n
    df = spark.createDataFrame(
        [("k", i, {"m": str(i)}) for i in range(10)],
        "k string, v long, attrs map<string,string>")
    got = salted_top_n(df, ["k"], [F.col("v").desc()], 3)
    assert sorted(r["v"] for r in got.collect()) == [7, 8, 9]
    want = top_n_per_group(df, ["k"], [F.col("v").desc()], 3)
    assert sorted(r["v"] for r in want.collect()) == [7, 8, 9]


def test_salted_operators_reject_nonpositive_buckets(spark):
    """buckets=0 would pmod every row into one NULL salt bucket — the
    exact single-task pile-up the operator exists to prevent."""
    from eirepolitic_data_pipeline_spark.operators.skew import (
        salted_agg, salted_top_n)
    df = spark.createDataFrame([("k", 1)], "k string, v long")
    with pytest.raises(ValueError, match="buckets"):
        salted_top_n(df, ["k"], [F.col("v")], 1, buckets=0)
    with pytest.raises(ValueError, match="buckets"):
        salted_agg(df, ["k"], {"s": ("sum", "v")}, buckets=-1)


def test_stateful_user_totals_string_key(spark, tmp_path):
    """The output schema derives the key column's type from the input —
    a string-keyed events source must stream, not fail Arrow conversion."""
    import datetime as dt

    from eirepolitic_data_pipeline_spark.streaming.jobs import (
        stateful_user_totals)
    t0 = dt.datetime(2024, 1, 1)
    batch = spark.createDataFrame(
        [("u-a", t0, 10.0), ("u-a", t0, 60.0), ("u-b", t0, 5.0)],
        "user_id string, ts timestamp, value double")
    path = str(tmp_path / "ev")
    batch.write.parquet(path)
    stream = spark.readStream.schema(batch.schema).parquet(path)
    q = (stateful_user_totals(stream).writeStream.format("memory")
         .queryName("stateful_str").outputMode("update")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["user_id"]: (r["n_events"], r["n_high"])
           for r in spark.sql("SELECT * FROM stateful_str").collect()}
    assert got == {"u-a": (2, 1), "u-b": (1, 0)}


def test_mixed_cadence_promotes_via_carry_forward(spark, tmp_path):
    """A cadence building only ITS subset must still promote: carry_forward
    records manifest references to the other cadence's tables (data never
    moves), so the batch-global pointer flip keeps serving them — the
    alternative was a shrink-guard deadlock or a silent retirement."""
    catalog = BatchCatalog(root=str(tmp_path / "wh"))
    df = spark.createDataFrame([(1, "x")], "k long, v string")
    catalog.write_table(df, "weekly_t", "w1")
    catalog.write_table(df, "monthly_t", "w1")
    catalog.promote("w1", catalog.batch_tables("w1"))

    df2 = spark.createDataFrame([(2, "y")], "k long, v string")
    catalog.write_table(df2, "monthly_t", "m1")  # monthly builds only its own
    carried = catalog.carry_forward("m1")
    assert carried == ["weekly_t"]
    catalog.promote("m1", catalog.batch_tables("m1"))
    assert catalog.production_batch_id() == "m1"
    # the carried table reads the ORIGINAL batch's files through production
    assert catalog.read_table(spark, "weekly_t").collect()[0]["v"] == "x"
    assert catalog.read_table(spark, "monthly_t").collect()[0]["v"] == "y"

    # a carry of a carry still references the batch that wrote the files
    catalog.write_table(df2, "monthly_t", "m2")
    catalog.carry_forward("m2")
    entry = catalog.table_entry("weekly_t", batch_id="m2")
    assert entry["from_batch"] == "w1"
    catalog.promote("m2", catalog.batch_tables("m2"))
    assert catalog.read_table(spark, "weekly_t").count() == 1


def test_promote_refuses_ever_promoted_batch(spark, tmp_path):
    """Re-promoting a promoted batch would restamp its immutable manifest;
    rollback is the sanctioned way to re-point production."""
    catalog = BatchCatalog(root=str(tmp_path / "wh"))
    df = spark.createDataFrame([(1, "x")], "k long, v string")
    catalog.write_table(df, "t", "b1")
    catalog.promote("b1", ["t"])
    catalog.write_table(df, "t", "b2")
    catalog.promote("b2", ["t"])
    with pytest.raises(CatalogError, match="rollback"):
        catalog.promote("b1", ["t"])
    catalog.rollback("b1")
    assert catalog.production_batch_id() == "b1"


def test_run_refresh_test_mode_skips_promotion(spark, tmp_path):
    """build_mode='test' stamps every manifest entry status='test', so the
    default promote must auto-skip (the reference CLI behavior) instead of
    crashing at validate_batch after all the build work."""
    from eirepolitic_data_pipeline_spark.jobs.run_refresh import run_refresh
    from eirepolitic_data_pipeline_spark.plans.default_tables import (
        DEFAULT_TABLES_CONFIG)
    from eirepolitic_data_pipeline_spark.plans.registry import TableRegistry
    from datetime import date
    registry = TableRegistry.from_dict(DEFAULT_TABLES_CONFIG)
    catalog = BatchCatalog(root=str(tmp_path / "wh"))
    res = run_refresh(
        spark, catalog, registry, "weekly", as_of=date(2026, 8, 13),
        batch_id="t1", build_mode="test",
        tables=["silver_members"], promote=True)
    assert res.promoted is False
    assert catalog.production_batch_id() is None


def test_dq_gate_failure_records_fail_rows(spark, tmp_path):
    """A DQ-gate failure must land its per-check rows (including the
    failing one) in control_data_quality_results — not just a truncated
    message in control_pipeline_runs."""
    from eirepolitic_data_pipeline_spark.jobs.build_table import DQGateError
    from eirepolitic_data_pipeline_spark.plans.quality import DQSuite
    df = spark.createDataFrame([(1, "a"), (1, "b")], "k long, v string")
    dq = DQSuite().min_rows(1).unique(["k"]).run(df)
    assert not DQSuite.passed(dq)
    err = DQGateError("gate failed", dq)
    assert err.dq is dq and any(not c.passed for c in err.dq)
    # and run_refresh records them: drive one table through a registry
    # whose builder violates its own PK uniqueness
    from eirepolitic_data_pipeline_spark.jobs import run_refresh as rr
    recorded = []
    orig = rr.build_table

    def fake_build(*a, **k):
        raise DQGateError("boom", dq)

    rr_mod_build = rr.build_table
    try:
        rr.build_table = fake_build
        from eirepolitic_data_pipeline_spark.plans.default_tables import (
            DEFAULT_TABLES_CONFIG)
        from eirepolitic_data_pipeline_spark.plans.registry import (
            TableRegistry)
        from datetime import date
        registry = TableRegistry.from_dict(DEFAULT_TABLES_CONFIG)
        catalog = BatchCatalog(root=str(tmp_path / "wh"))
        res = rr.run_refresh(
            spark, catalog, registry, "weekly", as_of=date(2026, 8, 13),
            batch_id="d1", tables=["silver_members"], promote=False)
        assert "silver_members" in res.failed
        got = catalog.read_table(spark, "control_data_quality_results",
                                 batch_id="d1")
        statuses = {r["check_name"]: r["status"] for r in got.collect()}
        assert "fail" in statuses.values()
    finally:
        rr.build_table = rr_mod_build


def test_scope_replace_keeps_null_scope_rows(spark):
    """Rows whose scope predicate evaluates NULL are OUTSIDE the incoming
    scope and must survive the replace — filter(~pred) would delete them
    on every refresh (~NULL is NULL)."""
    from eirepolitic_data_pipeline_spark.operators.temporal import (
        scope_replace_union)
    existing = spark.createDataFrame(
        [("2026-W01", "old"), (None, "keeper"), ("2026-W02", "other")],
        "week_id string, v string")
    incoming = spark.createDataFrame([("2026-W01", "new")],
                                     "week_id string, v string")
    got = {(r["week_id"], r["v"]) for r in scope_replace_union(
        existing, incoming, F.col("week_id") == "2026-W01").collect()}
    assert got == {("2026-W01", "new"), (None, "keeper"),
                   ("2026-W02", "other")}


def test_current_else_latest_ties_are_deterministic(spark):
    """Identical intervals with different payloads must resolve to the
    SAME winner across parallelism degrees (total-order tiebreak), never
    the shuffle's arbitrary first row."""
    from eirepolitic_data_pipeline_spark.operators.temporal import (
        current_else_latest)
    rows = [("m1", "2020-01-01", None, "true", "payload-a"),
            ("m1", "2020-01-01", None, "true", "payload-z")]
    winners = set()
    for n_parts in (1, 3, 5):
        df = spark.createDataFrame(
            rows, "member string, start string, end string, "
                  "is_current string, payload string").repartition(n_parts)
        got = current_else_latest(df, ["member"], "start", "end",
                                  "is_current").collect()
        assert len(got) == 1
        winners.add(got[0]["payload"])
    assert winners == {"payload-z"}  # desc_nulls_last total order


def test_antijoin_merge_requires_primary_key(spark):
    """An empty primary_key would collapse incoming to one global row and
    anti-join away the whole history — refuse loudly."""
    from eirepolitic_data_pipeline_spark.operators.merge import (
        WritePolicy, merge_upsert_antijoin)
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    # WritePolicy itself refuses upsert-without-PK, so the exposed route
    # is a keyless append/snapshot policy handed to the function directly
    with pytest.raises(ValueError, match="primary_key"):
        merge_upsert_antijoin(df, df, WritePolicy(mode="append",
                                                  primary_key=()))


def test_range_join_rejects_reserved_column_names(spark):
    """A caller column named __bucket/__buckets would be silently
    overwritten then dropped; the clash validation covers them."""
    import datetime as dt

    from eirepolitic_data_pipeline_spark.operators.temporal import (
        point_in_interval_join)
    t0 = dt.datetime(2024, 1, 1)
    pts = spark.createDataFrame([(t0, 1)], "ts timestamp, __bucket long")
    iv = spark.createDataFrame([(t0, t0)],
                               "win_start timestamp, win_end timestamp")
    with pytest.raises(ValueError, match="reserved"):
        point_in_interval_join(pts, iv, "ts", "win_start", "win_end")


def test_tokens_no_phantom_empty_on_whitespace_edges(spark):
    """F.trim strips only ASCII spaces, so the old trim-then-split emitted
    a phantom '' token for \\n/\\t-edged text — documents routinely end
    with a newline, skewing counts/shingles corpus-wide. tokens() now
    matches Python str.split(): no empty tokens, ever."""
    from eirepolitic_data_pipeline_spark.functions.text import (
        quality_features, tokens, word_shingles)
    df = spark.createDataFrame(
        [("foo\n",), ("one two three four\n",), ("\t",), ("",), (None,)],
        "t string")
    got = df.select(tokens("t").alias("tk"),
                    quality_features("t")["n_tokens"].alias("n"),
                    word_shingles("t", 2).alias("sh")).collect()
    assert got[0]["tk"] == ["foo"] and got[0]["n"] == 1
    assert got[1]["n"] == 4
    assert all(not s.endswith(" ") for s in got[1]["sh"])
    assert got[2]["tk"] == [] and got[3]["tk"] == [] and got[4]["tk"] == []


def test_word_count_and_clamp_match_python_split(spark):
    """X9 parity: len(text.split()) — whitespace-edged text must not
    inflate counts or render trailing spaces."""
    from eirepolitic_data_pipeline_spark.functions.scalar import (
        clamp_words, word_count)
    df = spark.createDataFrame([("foo\n",), ("\t",), ("a  b c",)], "t string")
    got = df.select(word_count("t").alias("n"),
                    clamp_words("t", 5).alias("c")).collect()
    assert [(r["n"], r["c"]) for r in got] == [
        (1, "foo"), (0, ""), (3, "a b c")]


def test_truthy_survives_crlf(spark):
    """A CRLF-lined CSV delivers 'true\\r'; reading it as false silently
    drops rows from current-member logic."""
    from eirepolitic_data_pipeline_spark.functions.scalar import truthy
    df = spark.createDataFrame([("true\r",), ("1\t",), ("false",)], "t string")
    assert [r[0] for r in df.select(truthy("t")).collect()] == [
        True, True, False]


def test_stable_record_hash_renders_nulls(spark):
    """A record with a NULL field must hash differently from the same
    record without that field — Spark's to_json default silently omits
    null fields, defeating change detection."""
    from eirepolitic_data_pipeline_spark.functions.scalar import (
        stable_record_hash)
    df = spark.createDataFrame([("x", None)], "a string, b string")
    with_b = df.select(stable_record_hash("a", "b").alias("h")).first()["h"]
    without_b = df.select(stable_record_hash("a").alias("h")).first()["h"]
    assert with_b != without_b


def test_strip_citations_py_is_ascii_twin(spark):
    """The Python twin must match the Spark column byte-for-byte on
    Unicode whitespace: Java \\s is ASCII-only, Python's default is not."""
    from eirepolitic_data_pipeline_spark.functions.scalar import (
        strip_citations, strip_citations_py)
    s = "word [3]  next"
    spark_out = (spark.createDataFrame([(s,)], "t string")
                 .select(strip_citations("t").alias("o")).first()["o"])
    assert strip_citations_py(s) == spark_out


def test_redact_pii_token_with_dollar(spark):
    """A redaction token containing $ or \\ must not crash regexp_replace
    (Java group-reference syntax) nor corrupt the output."""
    from eirepolitic_data_pipeline_spark.functions.text import redact_pii
    df = spark.createDataFrame([("mail me at a@b.co now",)], "t string")
    got = df.select(redact_pii("t", token="<$PII>").alias("o")).first()["o"]
    assert got == "mail me at <$PII> now"


def test_percent_string_infinity_passthrough(spark):
    """Castable-but-unrenderable numerics (Infinity overflows the decimal
    render) must fall back to passthrough, never a NULL cell."""
    from eirepolitic_data_pipeline_spark.functions.scalar import (
        percent_string)
    df = spark.createDataFrame([("Infinity",), ("42",), ("oops",)],
                               "t string")
    got = [r[0] for r in df.select(percent_string("t")).collect()]
    assert got == ["Infinity", "42%", "oops"]


def test_shingle_kernel_matches_word_shingles_on_edge_whitespace(spark):
    """The Arrow shingle kernel (`_shingle_set`) must tokenize exactly like
    tokens()/word_shingles: \\n/\\t-edged text previously kept a phantom ''
    token (strip(' ') only removes spaces), fabricating trailing-space
    shingles and inflating n_sh — silently drifting every Jaccard/MinHash
    result from the certified oracle semantics on real corpora."""
    from eirepolitic_data_pipeline_spark.functions.text import word_shingles
    from eirepolitic_data_pipeline_spark.operators.dedupe import _shingle_set

    texts = ["shared parity sentence one two three\n",
             "\tlead tab text here",
             "foo bar baz\r\n", "  plain spaced  ", "one\ttwo", "", None,
             "   ", "a\nb\nc\nd"]
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    catalyst = [set(r[0]) for r in
                df.select(word_shingles("t", 3)).collect()]
    kernel = [_shingle_set(t, 3) for t in texts]
    assert kernel == catalyst
