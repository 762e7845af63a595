"""Reranking utilities (SURVEY.md §2.6 K4, §2.5 J2/J5).

- ``rerank_tail_adjust``: the reference's tail-score adjustment when only
  the top-R of K candidates are reranked (``BaseQueryApp.java:179-199``):
  reranked top-R keep their new scores; tail candidates keep their
  relative order but are shifted to stay strictly below the minimum
  reranked score.
- ``run_provider``: "retrieval" against a precomputed run
  (``cand_providers/TrecRunCandidateProvider.java:36-90``) — filter +
  tie-rule sort + limit.
- ``bm25_rerank``: re-scores the top-R of a run with BM25 under different
  (k1, b) using the forward/doc view — the shape of the reference's
  Python reranker (``ranker/bm25py.py:92-131``: fetch candidate docs,
  re-score, re-sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flexneuart_spark.config import BM25_B, BM25_K1
from flexneuart_spark.io.trec import rank_run


def run_provider(run: DataFrame, query_id: str, k: int = 10) -> DataFrame:
    return (
        run.filter(F.col("query_id") == query_id)
        .orderBy(F.desc("score"), F.desc("doc_id"))
        .limit(k)
    )


def rerank_tail_adjust(run: DataFrame, reranked: DataFrame, top_r: int) -> DataFrame:
    """run: (query_id, doc_id, score, rank) — original retrieval order.
    reranked: (query_id, doc_id, new_score) for rank ≤ top_r.

    Output: reranked head by new_score; tail shifted so every tail score
    stays below the head's minimum, preserving tail order:
    ``adjusted = min_new + (score - max_tail_orig) - EPS`` per
    BaseQueryApp.java:179-199 semantics (order-preserving shift)."""
    head = run.filter(F.col("rank") <= top_r).join(reranked, ["query_id", "doc_id"], "inner")
    tail = run.filter(F.col("rank") > top_r)
    mins = head.groupBy("query_id").agg(F.min("new_score").alias("min_new"))
    maxs = tail.groupBy("query_id").agg(F.max("score").alias("max_tail"))
    adj = (
        tail.join(F.broadcast(mins), "query_id", "inner")
        .join(F.broadcast(maxs), "query_id", "inner")
        .withColumn("new_score", F.col("min_new") + (F.col("score") - F.col("max_tail")) - F.lit(1e-6))
        .select("query_id", "doc_id", "new_score")
    )
    out = head.select("query_id", "doc_id", "new_score").unionByName(adj)
    return rank_run(out, score="new_score").withColumnRenamed("new_score", "score")


def bm25_rerank(
    run: DataFrame,
    docs_tok: DataFrame,
    queries_tok: DataFrame,
    top_r: int,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Re-score the top-R candidates of ``run`` with BM25(k1, b) computed
    over ``docs_tok`` (doc_id, tokens) / ``queries_tok`` (query_id,
    tokens); then tail-adjust. Candidate restriction happens BEFORE
    scoring (semi-join on the candidate set — J2's candidate↔fwd lookup)."""
    from flexneuart_spark.search.bm25 import bm25_score_relational

    cand = run.filter(F.col("rank") <= top_r).select("query_id", "doc_id")
    cand_docs = docs_tok.join(cand.select("doc_id").distinct(), "doc_id", "left_semi")
    scored = bm25_score_relational(cand_docs, queries_tok, k1=k1, b=b)
    # keep only (query, doc) pairs that were actual candidates for the query
    new = scored.join(cand, ["query_id", "doc_id"], "inner").select(
        "query_id", "doc_id", F.col("score").alias("new_score")
    )
    return rerank_tail_adjust(run, new, top_r)
