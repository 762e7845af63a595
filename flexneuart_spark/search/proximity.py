"""Proximity BM25: close-pair similarities (SURVEY.md §2.8 C3).

Reference semantics (``simil_func/BM25ClosePairSimilarityQueryNormBase.java:21-70``,
``BM25CloseOrderPairSimilQueryNorm.java:44-120``,
``BM25CloseUnorderPairSimilQueryNorm.java``; an SDM-like model from
Boytsov & Belova, TREC 2011):

- query pairs: every (i, k) with i < k < i + query_window over the query
  token SEQUENCE, both words in-dictionary, words distinct; ordered
  variant keeps (w_i, w_k) as-is, unordered canonicalizes to
  (min, max) by word id;
- doc pair tf: occurrences of those pairs over the doc token sequence
  with gap < doc_window (same ordered/unordered keying);
- score = Σ_pairs tfNorm(tf) · (idf₁+idf₂)/2, tfNorm the BM25 length
  normalization with the doc's token length; normalized by Σ idf over the
  query's unique in-dictionary words.

One core, :func:`close_pair_frame`, runs :func:`close_pair_score` (the
reference's ``compute``) for every caller, given the caller's idf and
avgdl: :func:`proximity_topk` (index dictionary idf, corpus-stats avgdl,
forward-table tokens — stored by every build, the reference's
parsedText mode, ``ForwardIndex.java:102-108``), :func:`sdm_topk`
through it, and the ``close_pair``/``sdm`` features
(``operators/features.py``, statistics over their ``docs_tok``).

The kernel is numpy-vectorized: for each gap g < window, pair keys are
formed by shifting the id array — no per-position Python.
"""

from __future__ import annotations

import operator
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flexneuart_spark.config import BM25_B, BM25_K1
from flexneuart_spark.functions.tokenize import TOKENIZERS
from flexneuart_spark.index.builder import merged_stats
from flexneuart_spark.io.trec import rank_run


def query_pairs(
    q_ids: np.ndarray, query_window: int, ordered: bool
) -> set[tuple[int, int]]:
    """Distinct close pairs of the query id sequence (ids < 0 = OOV)."""
    out: set[tuple[int, int]] = set()
    n = len(q_ids)
    for i in range(n - 1):
        for k in range(i + 1, min(n, i + query_window)):
            a, b = int(q_ids[i]), int(q_ids[k])
            if a < 0 or b < 0 or a == b:
                continue
            out.add((a, b) if ordered else (min(a, b), max(a, b)))
    return out


def doc_pair_counts(
    d_ids: np.ndarray, doc_window: int, ordered: bool, vocab_size: int
) -> dict[int, int]:
    """Counts of close pairs over the doc id sequence, keyed
    a*vocab_size+b. Vectorized over gaps."""
    counts: dict[int, int] = {}
    n = len(d_ids)
    V = vocab_size
    for g in range(1, doc_window):
        if g >= n:
            break
        a = d_ids[:-g]
        b = d_ids[g:]
        mask = (a >= 0) & (b >= 0) & (a != b)
        if not mask.any():
            continue
        aa, bb = a[mask], b[mask]
        if not ordered:
            lo = np.minimum(aa, bb)
            hi = np.maximum(aa, bb)
            aa, bb = lo, hi
        keys, qtys = np.unique(aa.astype(np.int64) * V + bb.astype(np.int64), return_counts=True)
        for kkey, qq in zip(keys.tolist(), qtys.tolist()):
            counts[kkey] = counts.get(kkey, 0) + qq
    return counts


def close_pair_score(
    q_ids: np.ndarray,
    d_ids: np.ndarray,
    doc_len: int,
    idf_by_id: np.ndarray,
    avgdl: float,
    query_window: int = 4,
    doc_window: int = 8,
    ordered: bool = True,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> float:
    """Single (query, doc) close-pair score — the reference's `compute`."""
    V = len(idf_by_id)
    qp = query_pairs(q_ids, query_window, ordered)
    if not qp:
        return 0.0
    dc = doc_pair_counts(d_ids, doc_window, ordered, V)
    score = 0.0
    for a, bb in sorted(qp):
        tf = dc.get(a * V + bb, 0)
        if tf <= 0:
            continue
        norm_tf = tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * doc_len / avgdl))
        score += norm_tf * 0.5 * (idf_by_id[a] + idf_by_id[bb])
    uniq = {int(x) for x in q_ids if x >= 0}
    norm_idf = sum(idf_by_id[w] for w in uniq)
    return score / norm_idf if norm_idf > 0 else 0.0


def close_pair_frame(
    docs_tok: DataFrame,
    q_tok: DataFrame,
    modes: list[tuple[str, bool]],
    idf: dict[str, float],
    avgdl: float,
    query_window: int,
    doc_window: int,
    k1: float,
    b: float,
) -> DataFrame:
    """Close-pair scores of ``q_tok`` (query_id, tokens) against
    ``docs_tok`` (doc_id, tokens): (query_id, doc_id, <name> double ...)
    for every pair nonzero in some ``(name, ordered)`` mode, all modes in
    ONE Arrow pass. ``idf``: term → idf of the query terms the doc
    universe holds (the rest are OOV); ``avgdl``: its mean length.

    A nonzero score needs two DISTINCT live query terms in the doc, so
    the candidates are the (query, doc) pairs sharing ≥2 terms (equi-join
    of the docs' live terms on the broadcast query terms), and only docs
    holding ≥2 live terms are read back for their tokens. Both gates test
    membership with one hash set, so their cost per doc does not grow
    with the query vocabulary. Each candidate doc carries its query ids
    into the kernel, so its token→id conversion runs once. Query id
    sequences and the idf slice are driver-small and ship by closure."""
    spark = q_tok.sparkSession
    schema = "query_id string, doc_id string, " + ", ".join(f"{name} double" for name, _ in modes)
    terms = sorted(idf)
    if not terms:
        return spark.createDataFrame([], schema)
    term_to_id = {t: i for i, t in enumerate(terms)}
    idf_by_id = np.array([idf[t] for t in terms], dtype=np.float64)
    q_ids = {
        r.query_id: np.array([term_to_id.get(t, -1) for t in r.tokens], dtype=np.int64)
        for r in q_tok.select("query_id", "tokens").collect()
    }

    def _terms(df, key):
        t = df.select(key, F.explode(F.array_distinct("tokens")).alias("term"))
        return t.where(F.col("term").isin(terms))

    cand = (
        _terms(docs_tok, "doc_id")
        .join(F.broadcast(_terms(q_tok, "query_id")), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.count("*").alias("n_match"))
        .where(F.col("n_match") >= 2)
        .groupBy("doc_id")
        .agg(F.collect_list("query_id").alias("qids"))
    )
    live = F.filter(F.array_distinct("tokens"), lambda t: t.isin(terms))
    docs = docs_tok.where(F.size(live) >= 2).select("doc_id", "tokens")
    qw, dw, K1, B, modes_ = query_window, doc_window, k1, b, list(modes)

    def _score(batches):
        for pdf in batches:
            out = {"query_id": [], "doc_id": [], **{name: [] for name, _ in modes_}}
            for did, qids, dt in zip(pdf["doc_id"], pdf["qids"], pdf["tokens"]):
                di = np.array([term_to_id.get(t, -1) for t in dt], dtype=np.int64)
                for qid in qids:
                    s = [
                        close_pair_score(q_ids[qid], di, len(dt), idf_by_id, avgdl, qw, dw, o, K1, B)
                        for _, o in modes_
                    ]
                    if any(s):
                        out["query_id"].append(qid)
                        out["doc_id"].append(did)
                        for (name, _), v in zip(modes_, s):
                            out[name].append(v)
            yield pd.DataFrame(out)

    return cand.join(docs, "doc_id").select("doc_id", "qids", "tokens").mapInPandas(_score, schema)


def sdm_topk(
    spark: SparkSession,
    tables,
    queries: list[tuple[str, str]],
    k: int = 10,
    w_unigram: float = 0.8,
    w_ordered: float = 0.1,
    w_unordered: float = 0.1,
    query_window: int = 4,
    doc_window: int = 8,
    component_k: int | None = None,
) -> DataFrame:
    """Sequential Dependence Model (SURVEY.md §2.8 C4,
    ``simil_func/SDMSimilarityAnserini.java`` shape): weighted combination
    of the unigram BM25 score and the ordered/unordered close-pair scores.
    Each component reuses its individually-oracle-tested implementation;
    missing components contribute 0 (:func:`sdm_combine`).

    ``component_k`` bounds each component's candidate depth (default
    10k-or-100, the usual rerank-pool shape); pass a value ≥ corpus size
    for the exhaustive combination (exactly SQL-expressible)."""
    from flexneuart_spark.search.engine import Searcher

    ck = component_k if component_k is not None else max(k * 10, 100)
    runs = {
        "s_uni": Searcher(spark, tables).search(queries, k=ck),
        "s_ord": proximity_topk(spark, tables, queries, k=ck, query_window=query_window,
                                doc_window=doc_window, ordered=True),
        "s_unord": proximity_topk(spark, tables, queries, k=ck, query_window=query_window,
                                  doc_window=doc_window, ordered=False),
    }
    parts = [r.select("query_id", "doc_id", F.col("score").alias(c)) for c, r in runs.items()]
    weights = {"s_uni": w_unigram, "s_ord": w_ordered, "s_unord": w_unordered}
    return rank_run(sdm_combine(parts, weights), k)


def sdm_combine(parts: list[DataFrame], weights: dict[str, float]) -> DataFrame:
    """(query_id, doc_id, score): Σ weight · component over the full outer
    join of the (query_id, doc_id, <component> ...) frames ``parts``; a
    component missing for a pair counts 0. Shared by :func:`sdm_topk` and
    the ``sdm`` feature."""
    j = reduce(lambda left, right: left.join(right, ["query_id", "doc_id"], "full"), parts)
    score = reduce(operator.add, [F.lit(w) * F.col(c) for c, w in weights.items()])
    return j.fillna({c: 0.0 for c in weights}).select("query_id", "doc_id", score.alias("score"))


def proximity_topk(
    spark: SparkSession,
    tables,
    queries: list[tuple[str, str]],
    k: int = 10,
    query_window: int = 4,
    doc_window: int = 8,
    ordered: bool = True,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Close-pair top-k over an index: :func:`close_pair_frame` with the
    index dictionary's idf, the corpus-stats avgdl and the forward
    table's token sequences, ranked under the tie rule. Queries are
    tokenized with the tokenizer the index records (read with avgdl from
    its ``corpus_stats`` row)."""
    _n_docs, avgdl, tokenizer = merged_stats(spark, [tables])
    tok = TOKENIZERS[tokenizer]
    qtoks = [(qid, tok(text)) for qid, text in queries]
    vocab = sorted({t for _, toks in qtoks for t in toks})
    dic = tables.dictionary(spark).filter(F.col("term").isin(vocab)).select("term", "idf")
    idf = {r.term: r.idf for r in dic.collect()} if vocab else {}
    scored = close_pair_frame(
        tables.fwd(spark).select("doc_id", "tokens"),
        spark.createDataFrame(qtoks, "query_id string, tokens array<string>"),
        [("score", ordered)], idf, avgdl, query_window, doc_window, k1, b,
    )
    return rank_run(scored, k)
