"""Self-tests of the benchmark (no Spark session needed):

    python3 -m pytest perfbench/selftest.py -q

Every correctness check must reject a mutated output, the generators must
be deterministic in their seed, ``BENCHMARK.json`` must list exactly the
metrics the runs print, and the command must fail cleanly where the
engine package is missing.
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys
import zlib

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen_corpus  # noqa: E402
import gen_star  # noqa: E402
import gen_weekly  # noqa: E402
import layers  # noqa: E402
import wl_curate  # noqa: E402
import wl_queries  # noqa: E402
import wl_weekly  # noqa: E402


def _files(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _s, fs in os.walk(root) for f in fs)


@pytest.mark.parametrize("make", [
    lambda out, seed: gen_weekly.generate(out, seed),
    lambda out, seed: gen_star.generate(out, seed),
    lambda out, seed: gen_corpus.generate(out, seed),
])
def test_same_seed_same_bytes(tmp_path, make):
    make(str(tmp_path / "a"), 7)
    make(str(tmp_path / "b"), 7)
    make(str(tmp_path / "c"), 8)
    names = _files(tmp_path / "a")
    assert names and names == _files(tmp_path / "b")
    _match, mismatch, errors = filecmp.cmpfiles(
        tmp_path / "a", tmp_path / "b", names, shallow=False)
    assert not mismatch and not errors
    _match, mismatch, _e = filecmp.cmpfiles(
        tmp_path / "a", tmp_path / "c", names, shallow=False)
    assert mismatch  # another seed, other inputs


# -- weekly_refresh --------------------------------------------------------

def _weekly_tables(archive):
    """Tables exactly as the model says week 2 must leave them."""
    expected = wl_weekly.expected_rows(archive, 2)
    totals = archive.totals[2]
    pks = {t: [f"{t}_pk"] for t in expected}
    tables = {t: pa.table({f"{t}_pk": [f"k{i}" for i in range(n)]})
              for t, n in expected.items()}
    n_cur = expected["gold_current_members"]
    tables["gold_current_members"] = tables["gold_current_members"] \
        .append_column("member_code", pa.array(
            [f"TD{i:04d}" for i in range(n_cur)]))
    # every current member's votes on member 0's row, the rest on a
    # departed member's row, padded with zero rows
    n_y = expected["gold_member_activity_yearly"]
    votes = [totals["votes_current"],
             totals["votes"] - totals["votes_current"]] + [0] * (n_y - 2)
    codes = ["TD0000", "GONE"] + [f"X{i}" for i in range(n_y - 2)]
    tables["gold_member_activity_yearly"] = pa.table({
        "gold_member_activity_yearly_pk": [f"k{i}" for i in range(n_y)],
        "member_code": codes, "votes_cast_count": votes,
        "vote_participation_pct": [50.0] * n_y})
    return tables, pks, expected, totals


@pytest.fixture(scope="module")
def archive(tmp_path_factory):
    return gen_weekly.generate(str(tmp_path_factory.mktemp("raw")), 3)


def test_weekly_check_accepts_model(archive):
    assert wl_weekly.check_tables(*_weekly_tables(archive)) == []


def test_weekly_check_rejects_dropped_row(archive):
    tables, pks, expected, totals = _weekly_tables(archive)
    t = tables["silver_member_votes"]
    tables["silver_member_votes"] = t.slice(1)
    assert wl_weekly.check_tables(tables, pks, expected, totals)


def test_weekly_check_rejects_duplicate_key(archive):
    tables, pks, expected, totals = _weekly_tables(archive)
    t = tables["silver_member_memberships"]
    # same row count, one key twice
    dup = pa.concat_tables([t.slice(0, t.num_rows - 1), t.slice(0, 1)])
    tables["silver_member_memberships"] = dup
    problems = wl_weekly.check_tables(tables, pks, expected, totals)
    assert any("duplicate primary keys" in p for p in problems)


def test_weekly_check_rejects_perturbed_value(archive):
    tables, pks, expected, totals = _weekly_tables(archive)
    y = tables["gold_member_activity_yearly"]
    votes = y["votes_cast_count"].to_pylist()
    votes[0] += 1
    tables["gold_member_activity_yearly"] = y.set_column(
        y.schema.get_field_index("votes_cast_count"), "votes_cast_count",
        pa.array(votes))
    assert wl_weekly.check_tables(tables, pks, expected, totals)


def test_weekly_check_rejects_pct_out_of_range(archive):
    tables, pks, expected, totals = _weekly_tables(archive)
    y = tables["gold_member_activity_yearly"]
    pct = [50.0] * y.num_rows
    pct[-1] = 100.5
    tables["gold_member_activity_yearly"] = y.set_column(
        y.schema.get_field_index("vote_participation_pct"),
        "vote_participation_pct", pa.array(pct))
    assert wl_weekly.check_tables(tables, pks, expected, totals)


# -- query_mix: oracle comparison -------------------------------------------

def _rows():
    cols = ["k", "v"]
    rows = [tuple(wl_queries.canon(x) for x in r)
            for r in [(1, 2.5), (2, 3.25), (3, None)]]
    return cols, rows


def test_compare_accepts_same_multiset():
    cols, rows = _rows()
    assert wl_queries.compare(cols, rows, list(reversed(cols)),
                              list(reversed(rows))) == ""


@pytest.mark.parametrize("mutate", [
    lambda rows: rows[1:],                                   # dropped row
    lambda rows: [rows[0], ("2", "3.2500001"), rows[2]],     # value
    lambda rows: [rows[0], rows[0], rows[2]],                # duplicate
])
def test_compare_rejects_mutation(mutate):
    cols, rows = _rows()
    assert wl_queries.compare(cols, mutate(rows), cols, rows)


def test_compare_rejects_renamed_column():
    cols, rows = _rows()
    assert wl_queries.compare(["k", "w"], rows, cols, rows)


# -- query_mix: curation checks ---------------------------------------------

@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    return gen_corpus.generate(str(tmp_path_factory.mktemp("corpus")), 5)


def _source_of(corpus):
    t = pq.read_table(corpus.path, columns=["doc_id", "source"])
    return dict(zip(t["doc_id"].to_pylist(), t["source"].to_pylist()))


def _split(source: str) -> str:
    b = zlib.crc32(source.encode()) % 100
    return "train" if b < 80 else "val" if b < 90 else "test"


def _write_output(path, ids, source_of):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    srcs = [source_of[i] for i in ids]
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                             "source": srcs,
                             "split": [_split(s) for s in srcs]}),
                   os.path.join(path, "part-0.parquet"))


def _summary(corpus, n_out):
    stages = [{"stage": s, "rows": n} for s, n in corpus.expected.items()]
    return {"stages": stages, "output_rows": n_out,
            "splits": {"all": {"rows": n_out, "tokens": 0}}}


def _survivors(corpus):
    return sorted({c for c in corpus.cluster.values() if c is not None})


def test_curate_check_accepts_model(corpus, tmp_path):
    ids = _survivors(corpus)
    _write_output(tmp_path / "out", ids, _source_of(corpus))
    assert wl_curate.check(corpus, _summary(corpus, len(ids)),
                           str(tmp_path / "out"),
                           gen_corpus.SPLIT_WEIGHTS) == []


def test_curate_check_rejects_surviving_duplicate(corpus, tmp_path):
    ids = _survivors(corpus)
    dup = next(i for i, k in corpus.kind.items() if k == "near")
    _write_output(tmp_path / "out", ids + [dup], _source_of(corpus))
    problems = wl_curate.check(corpus, _summary(corpus, len(ids) + 1),
                               str(tmp_path / "out"),
                               gen_corpus.SPLIT_WEIGHTS)
    assert any("more than one document" in p for p in problems)


def test_curate_check_rejects_low_quality_survivor(corpus, tmp_path):
    ids = _survivors(corpus)
    bad = next(i for i, k in corpus.kind.items() if k == "low_quality")
    _write_output(tmp_path / "out", ids + [bad], _source_of(corpus))
    problems = wl_curate.check(corpus, _summary(corpus, len(ids) + 1),
                               str(tmp_path / "out"),
                               gen_corpus.SPLIT_WEIGHTS)
    assert any("low-quality" in p for p in problems)


def test_curate_check_rejects_dropped_row(corpus, tmp_path):
    ids = _survivors(corpus)
    _write_output(tmp_path / "out", ids[1:], _source_of(corpus))
    assert wl_curate.check(corpus, _summary(corpus, len(ids)),
                           str(tmp_path / "out"), gen_corpus.SPLIT_WEIGHTS)


def test_curate_check_rejects_wrong_stage_count(corpus, tmp_path):
    ids = _survivors(corpus)
    _write_output(tmp_path / "out", ids, _source_of(corpus))
    summary = _summary(corpus, len(ids))
    summary["stages"][2]["rows"] += 1  # exact_dedup
    assert wl_curate.check(corpus, summary, str(tmp_path / "out"),
                           gen_corpus.SPLIT_WEIGHTS)


def test_distinct_texts_match_model(corpus):
    keep = {i for i, k in corpus.kind.items() if k != "low_quality"}
    assert wl_curate.distinct_clean_texts(corpus.path, keep) == \
        corpus.expected["exact_dedup"]


# -- the benchmark's own contract -------------------------------------------

def test_benchmark_json_lists_the_printed_metrics():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [m["name"] for m in spec["per_layer"]] == \
        list(layers.metric_units())
    assert [m["unit"] for m in spec["per_layer"]] == \
        list(layers.metric_units().values())
    assert {m["name"] for m in spec["end_to_end"]} == \
        {"setup_s", "round_s"}


def test_fails_cleanly_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"),
                tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query_mix",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert not p.stdout.strip()


# -- traced mode: event-log attribution --------------------------------------

class _FakeContext:
    def __init__(self):
        self.props = {}

    def getLocalProperty(self, key):
        return self.props.get(key)

    def setLocalProperty(self, key, value):
        self.props[key] = value


class _FakeSpark:
    def __init__(self):
        self.sparkContext = _FakeContext()


def test_spans_nest_and_restore_the_job_group():
    import spans
    tracer = spans.Tracer(_FakeSpark())
    with tracer.span("outer"):
        with tracer.span("inner"):
            assert tracer.sc.getLocalProperty(spans.GROUP_KEY) == "inner"
        assert tracer.sc.getLocalProperty(spans.GROUP_KEY) == "outer"
    assert tracer.sc.getLocalProperty(spans.GROUP_KEY) is None
    assert tracer.calls == {"outer": 1, "inner": 1}


def test_event_log_counts_only_the_timed_window(tmp_path):
    import spans

    def stage(sid, run_ms, py_ms):
        return {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": sid, "Number of Tasks": 2, "Completion Time": 1,
            "Accumulables": [
                {"Name": "internal.metrics.executorRunTime",
                 "Value": run_ms},
                {"Name": spans.PYTHON_TIME_METRIC, "Value": py_ms}]}}

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 50, "Stage Infos": [{"Stage ID": 0}],
         "Properties": {spans.GROUP_KEY: "plans.dq"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1,
         "Submission Time": 150, "Stage Infos": [{"Stage ID": 1}],
         "Properties": {spans.GROUP_KEY: "plans.dq"}},
        {"Event": "SparkListenerJobStart", "Job ID": 2,
         "Submission Time": 160, "Stage Infos": [{"Stage ID": 2}],
         "Properties": {}},
        stage(0, 9000, 0), stage(1, 2000, 500), stage(2, 1000, 0)]
    log_dir = tmp_path / "log"
    log_dir.mkdir()
    (log_dir / "app-1").write_text(
        "\n".join(json.dumps(e) for e in events) + "\n")
    summary = spans.summarize(spans.read_event_log(str(log_dir)),
                              (100, 200))
    assert summary["jobs"] == 2 and summary["stages"] == 2
    assert summary["tasks"] == 4
    assert summary["executor_run_s"] == 3.0
    assert summary["python_udf_s"] == 0.5
    assert summary["jobs_by_group"] == {"plans.dq": 1, "": 1}
