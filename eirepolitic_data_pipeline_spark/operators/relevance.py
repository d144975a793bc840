"""Corpus relevance / statistical-quality scoring (beyond-ref: the two
standard lexical scorers a training-data pipeline runs before and after
curation):

- ``bm25_scores`` — Okapi BM25 against a fixed query-term set (Robertson &
  Zaragoza 2009), the classic sparse relevance ranker used to mine
  domain-relevant documents out of a web corpus.
- ``bigram_lm_bits`` — a smoothed bigram language model TRAINED ON THE
  CORPUS ITSELF, scoring each document's mean -log2 P(w_i | w_{i-1}) in
  bits per bigram. The cheap, dependency-free stand-in for the KenLM
  perplexity filter CCNet-style pipelines apply (Wenzek et al. 2020):
  documents whose token transitions are improbable under the corpus's own
  statistics (mojibake, gibberish, boilerplate soup) score high and can be
  gated.

Both are pure DataFrame plans (no UDFs): one or two explode passes over the
corpus, aggregations keyed by term/bigram (map-side combined), and tiny
statistics frames (term document-frequencies, the 1-row N/avgdl aggregate)
that broadcast. At 100 TB the corpus is never collected or self-joined —
the only wide state is the bigram count table, which is bounded by the
number of DISTINCT bigrams and shuffles on the bigram key.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text as tx


def bm25_scores(df: DataFrame, terms: Sequence[str],
                text_col: str = "text", id_col: str = "doc_id",
                k1: float = 1.2, b: float = 0.75,
                persist_stats: bool = True) -> DataFrame:
    """Okapi BM25 of every document against ``terms``: one row per INPUT
    document — ``(doc_id, bm25)``, 0.0 for documents matching no term, so
    the output joins back to the corpus without row loss.

    IDF is the non-negative Lucene variant ``ln(1 + (N - df + 0.5) /
    (df + 0.5))`` — the classic form goes negative once a term appears in
    more than half the corpus, which would let a stopword-ish query term
    PENALIZE documents that contain it.

    Plan: one tokenize projection for per-doc length (no explode), one
    explode filtered to the query terms (the filter lands inside the
    Generate, so non-query tokens never leave the map side), a groupBy
    (doc, term) for tf — which CARRIES the doc length via any_value, so
    no length re-join — and term df + the 1-row (N, avgdl) aggregate
    crossJoin-broadcast back.

    ``persist_stats`` (default) lazily ``persist()``s the two frames
    consumed more than once — ``dl`` (2 longs per doc: the stats pass and
    the keep-all-docs join) and ``tf`` (bounded by matching docs × terms:
    the df pass and the scoring pass) — so the corpus is tokenized exactly
    TWICE regardless of plan fan-out; these are the same artifacts a
    production run would write as its own tables (curate_corpus's
    persisted stage boundaries; a long-lived session curating many corpora
    should release them once the result is materialized). Pass False for
    a cache-free plan (each consumer re-scans the corpus).
    """
    if not terms:
        raise ValueError("bm25_scores needs at least one query term")
    toks = tx.tokens(text_col)
    dl = df.select(F.col(id_col).alias("doc_id"),
                   F.size(toks).alias("dl"))
    tf = (df.select(F.col(id_col).alias("doc_id"),
                    F.size(toks).alias("dl"),
                    F.explode(toks).alias("tok"))
          .filter(F.col("tok").isin(*[t.lower() for t in terms]))
          .groupBy("doc_id", "tok")
          .agg(F.count(F.lit(1)).alias("tf"),
               F.any_value("dl").alias("dl")))
    if persist_stats:
        dl = dl.persist()
        tf = tf.persist()
    stats = dl.agg(F.count(F.lit(1)).alias("n_docs"),
                   F.avg("dl").alias("avgdl"))
    dfreq = tf.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    idf = F.log(F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5)))
    norm = (F.col("tf") * (k1 + 1)
            / (F.col("tf")
               + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))))
    scored = (tf.join(F.broadcast(dfreq), "tok")
              .crossJoin(F.broadcast(stats))
              .groupBy("doc_id")
              .agg(F.sum(idf * norm).alias("__s")))
    return (dl.join(scored, "doc_id", "left")
            .select("doc_id",
                    F.round(F.coalesce("__s", F.lit(0.0)), 6).alias("bm25")))


def _bigram_pairs(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(doc_id, w1, w2) — one row per adjacent token pair OCCURRENCE.
    Documents with fewer than two tokens contribute nothing (a bigram LM
    has no event to score there; callers see them absent, not 0)."""
    base = (df.select(F.col(id_col).alias("doc_id"),
                      tx.tokens(text_col).alias("__t"))
            .filter(F.size("__t") >= 2))
    pairs = F.transform(
        F.sequence(F.lit(1), F.size("__t") - 1),
        lambda i: F.struct(F.element_at("__t", i).alias("w1"),
                           F.element_at("__t", i + 1).alias("w2")))
    return (base.select("doc_id", F.explode(pairs).alias("p"))
            .select("doc_id", "p.w1", "p.w2"))


def bigram_lm_bits(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", add_k: float = 0.5,
                   persist_stats: bool = True) -> DataFrame:
    """Self-trained bigram LM score per document: ``(doc_id, n_bigrams,
    bits)`` where bits = mean over the doc's bigram occurrences of
    ``-log2 P(w2 | w1)`` with add-k smoothing
    ``P = (c(w1,w2) + k) / (c(w1,·) + k·V)`` — V the corpus's distinct
    unigram count and ``c(w1,·)`` the CONTEXT count (bigrams starting
    w1, i.e. each doc's last token opens no context). High bits =
    improbable token transitions = gibberish/mojibake candidates; the
    CCNet-style quality gate thresholds on this column.

    Only documents with >= 2 tokens appear (no bigram event to score
    otherwise). The corpus is read three times — count pass, vocabulary
    pass, score pass (at 100 TB the bigram-occurrence stream is LARGER
    than the corpus, so re-deriving it beats caching it) — while the
    model itself, ``joint`` (bounded by DISTINCT bigrams), is
    ``persist()``-ed under ``persist_stats`` so the context-count and
    probability consumers don't re-run the count pass: the same artifact
    a production run would write as its own table (curate_corpus's
    persisted stage boundaries — release after materializing downstream).
    All joins key on the bigram — never |corpus|^2.
    """
    occ = _bigram_pairs(df, text_col, id_col)
    joint = occ.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    if persist_stats:
        joint = joint.persist()
    ctx = joint.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab = (df.select(F.explode(tx.tokens(text_col)).alias("tok"))
             .agg(F.countDistinct("tok").alias("v")))
    prob = (joint.join(ctx, "w1")
            .crossJoin(F.broadcast(vocab))
            .select("w1", "w2",
                    ((F.col("c12") + add_k)
                     / (F.col("c1") + add_k * F.col("v"))).alias("p")))
    return (occ.join(prob, ["w1", "w2"])
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_bigrams"),
                 F.round(F.avg(-F.log2("p")), 6).alias("bits")))
