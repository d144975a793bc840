"""The curation operation of the ``query_mix`` workload: the CPU-heavy
text path with a write at the end, checked against the planted clusters
of ``gen_corpus``, read back with pyarrow."""

from __future__ import annotations

import math
import os
from collections import Counter

import pyarrow.dataset as ds

import gen_corpus

def distinct_clean_texts(path: str, keep_ids: set,
                         max_line_df: int = gen_corpus.MAX_LINE_DF) -> int:
    """Distinct documents among ``keep_ids`` once every line held by more
    than ``max_line_df`` documents is removed — line dedup plus exact
    dedup, computed in plain Python over the input file."""
    table = ds.dataset(path, format="parquet").to_table(
        columns=["doc_id", "text"])
    docs = [(i, t) for i, t in zip(table["doc_id"].to_pylist(),
                                   table["text"].to_pylist())
            if i in keep_ids]
    df = Counter()
    for _i, text in docs:
        df.update({ln.strip() for ln in text.split("\n")
                   if len(ln.strip()) >= 10})
    cleaned = set()
    for _i, text in docs:
        kept = [ln for ln in text.split("\n")
                if len(ln.strip()) < 10 or df[ln.strip()] <= max_line_df]
        norm = " ".join(" ".join(kept).split())
        if norm:
            cleaned.add(norm)
    return len(cleaned)


def check(corpus, summary: dict, output: str, weights: dict) -> list[str]:
    """Problems in one run_curate result (empty = correct)."""
    problems = []
    stage_rows = {s["stage"]: s["rows"] for s in summary.get("stages", [])}
    for stage, want in corpus.expected.items():
        if stage_rows.get(stage) != want:
            problems.append(f"{stage}: {stage_rows.get(stage)} rows, "
                            f"expected {want}")
    keep = {i for i, k in corpus.kind.items() if k != "low_quality"}
    distinct = distinct_clean_texts(corpus.path, keep)
    if stage_rows.get("exact_dedup") != distinct:
        problems.append(f"exact_dedup kept {stage_rows.get('exact_dedup')}"
                        f", {distinct} distinct texts after line dedup")
    out = ds.dataset(output, format="parquet").to_table(
        columns=["doc_id", "source", "split"])
    ids = out["doc_id"].to_pylist()
    if out.num_rows != summary.get("output_rows"):
        problems.append(f"committed {out.num_rows} rows, report says "
                        f"{summary.get('output_rows')}")
    split_sum = sum(v["rows"] for v in summary.get("splits", {}).values())
    if out.num_rows != split_sum:
        problems.append(f"committed {out.num_rows} rows, splits sum to "
                        f"{split_sum}")
    dropped = [i for i in ids if corpus.cluster.get(i) is None]
    if dropped:
        problems.append(f"{len(dropped)} planted low-quality or "
                        "boilerplate-only documents survived")
    per_cluster = Counter(corpus.cluster[i] for i in ids
                          if corpus.cluster.get(i) is not None)
    doubled = [c for c, n in per_cluster.items() if n > 1]
    if doubled:
        problems.append(f"{len(doubled)} planted clusters kept more than "
                        "one document")
    if len(per_cluster) != corpus.expected["near_dup"]:
        problems.append(f"{len(per_cluster)} clusters survive, expected "
                        f"{corpus.expected['near_dup']}")
    # the split is keyed on the source: each source lands in one split,
    # and the share of sources per split is binomial
    split_of = {}
    for src, split in zip(out["source"].to_pylist(),
                          out["split"].to_pylist()):
        if split_of.setdefault(src, split) != split:
            problems.append(f"source {src} spans two splits")
            break
    n_src = len(split_of)
    counts = Counter(split_of.values())
    for label, w in weights.items():
        mean, sd = n_src * w, math.sqrt(n_src * w * (1 - w))
        if abs(counts.get(label, 0) - mean) > 5 * sd:
            problems.append(f"split {label}: {counts.get(label, 0)} of "
                            f"{n_src} sources, expected {mean:.0f} +- "
                            f"{5 * sd:.0f}")
    return problems


class Curation:
    """One ``run_curate(..., report=True)`` per round, over a generated
    corpus into the same output path, so every round after the first
    replaces the previous output through the crash-safe swap."""

    def __init__(self, ctx):
        with ctx.generating():
            self.corpus = gen_corpus.generate(
                os.path.join(ctx.work, "corpus"), ctx.seed)
        self.output = os.path.join(ctx.work, "curated")
        self.summaries = []

    def __call__(self, spark) -> None:
        from eirepolitic_data_pipeline_spark.jobs import curate as cm
        self.summaries.append(cm.run_curate(
            spark, self.corpus.path, self.output,
            split_weights=gen_corpus.SPLIT_WEIGHTS,
            max_line_df=gen_corpus.MAX_LINE_DF, report=True))

    def problems(self) -> list[str]:
        last = self.summaries[-1]
        out = check(self.corpus, last, self.output,
                    gen_corpus.SPLIT_WEIGHTS)
        if any(s.get("stages") != last.get("stages")
               for s in self.summaries):
            out.append("run_curate stage counts differ between rounds")
        return out

    def bytes_written(self) -> int:
        return sum(os.path.getsize(os.path.join(d, f))
                   for d, _s, files in os.walk(self.output) for f in files)
