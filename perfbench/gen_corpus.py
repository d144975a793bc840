"""Seeded document corpus for the ``curate_corpus`` workload.

Every document belongs to a planted cluster whose fate is known by
construction:

- ``original``: unique multi-line text over a large random alphabetic
  vocabulary, so unrelated documents share no word 3-gram and near-dup
  detection cannot merge them by accident;
- ``exact``: a byte-identical copy of an original;
- ``boiler_variant``: an original with one boilerplate line added. The
  boilerplate lines each occur in more than ``max_line_df`` documents, so
  line dedup removes them and the variant becomes an exact duplicate;
- ``near``: an original with one word appended to its last line (word
  3-gram Jaccard above 0.95 with the original);
- ``boiler_only``: nothing but boilerplate lines, empty after line dedup;
- ``low_quality``: too few tokens, or digits instead of words.

Survivors of the curation chain: one document per original.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

MAX_LINE_DF = 20
SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}
_LETTERS = "abcdefghijklmnopqrstuvwxyz"


@dataclass
class Corpus:
    path: str
    n_docs: int
    n_bytes: int
    kind: dict      # doc_id -> planted kind
    cluster: dict   # doc_id -> original's doc_id (None for dropped kinds)
    expected: dict  # stage -> rows surviving it


def _vocab(rng: random.Random, n: int) -> list[str]:
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(_LETTERS)
                          for _ in range(rng.randint(4, 9))))
    return sorted(words)


def generate(out_dir: str, seed: int, n_originals: int = 800,
             n_exact: int = 160, n_near: int = 120, n_low: int = 80,
             n_boiler_only: int = 20, n_sources: int = 200) -> Corpus:
    """Write ``out_dir/documents.parquet`` and return its model. The same
    arguments always write a byte-identical file."""
    rng = random.Random(seed)
    vocab = _vocab(rng, 20000)
    boiler = [" ".join(rng.choice(vocab) for _ in range(8))
              for _ in range(3)]

    def text_of(n_lines: int) -> str:
        return "\n".join(" ".join(rng.choice(vocab)
                                  for _ in range(rng.randint(10, 20)))
                         for _ in range(n_lines))

    docs: list[tuple[str, str, str | None]] = []  # (text, kind, origin)
    originals = [text_of(rng.randint(3, 5)) for _ in range(n_originals)]
    docs += [(t, "original", t) for t in originals]
    docs += [(rng.choice(originals), "exact", None)
             for _ in range(n_exact)]
    # each boilerplate line rides on 1.5x max_line_df originals' copies
    per_line = MAX_LINE_DF + MAX_LINE_DF // 2
    for line in boiler:
        for _ in range(per_line):
            t = rng.choice(originals)
            lines = t.split("\n")
            lines.insert(rng.randint(0, len(lines)), line)
            docs.append(("\n".join(lines), "boiler_variant", t))
    # distinct appended words, so no two near-dups are exact duplicates
    for word in rng.sample(vocab, n_near):
        t = rng.choice(originals)
        docs.append((t + " " + word, "near", t))
    for _ in range(n_boiler_only):
        docs.append(("\n".join(rng.sample(boiler, 2)), "boiler_only", None))
    for i in range(n_low):
        if i % 2:
            t = " ".join(rng.choice(vocab) for _ in range(3))
        else:
            t = " ".join(str(rng.randrange(10**6)) for _ in range(20))
        docs.append((t, "low_quality", None))
    rng.shuffle(docs)

    ids = rng.sample(range(10**9), len(docs))
    first_id = {}
    for doc_id, (text, kind, origin) in zip(ids, docs):
        if kind == "original":
            first_id[text] = doc_id
    kind_of, cluster_of = {}, {}
    for doc_id, (text, kind, origin) in zip(ids, docs):
        kind_of[doc_id] = kind
        if kind == "exact":
            origin = text
        cluster_of[doc_id] = first_id.get(origin) if origin else None

    table = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array([d[0] for d in docs], pa.string()),
        "source": pa.array([f"src{rng.randrange(n_sources):04d}"
                            for _ in docs], pa.string()),
        "lang": pa.array(["en"] * len(docs), pa.string()),
    })
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "documents.parquet")
    pq.write_table(table, path, compression="snappy")

    n_total = len(docs)
    after_quality = n_total - n_low
    after_lines = after_quality - n_boiler_only
    expected = {
        "quality_gate": after_quality,
        "line_dedup": after_lines,
        # every exact copy and boilerplate variant collapses onto its
        # original; each near-dup is still a distinct text here
        "exact_dedup": n_originals + n_near,
        "near_dup": n_originals,
    }
    return Corpus(path=path, n_docs=n_total, n_bytes=os.path.getsize(path),
                  kind=kind_of, cluster=cluster_of, expected=expected)
