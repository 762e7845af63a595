"""Exhaustive relational BM25 — pure DataFrame formulation.

This is the engine's second, independent implementation of the same
semantics (the reference's own dual-implementation pattern:
``ranker/bm25py.py:17-20`` Python BM25 vs the Java engine). It is also the
shape the driver's DuckDB oracle mirrors, and the cross-check for the
pruned posting-list engine (engine.py).

Plan shape (all Catalyst-optimizable, no UDFs):
  explode(tokens) → groupBy(doc,term) tf → broadcast-join query terms →
  join df/idf → join doc_len → Σ per (query,doc) → windowed top-k.
The query-terms join is broadcast (tiny side); the only large shuffles are
the tf groupBy (map-side combined) and the score groupBy, both keyed by
doc_id — no term-skew exposure because head terms are filtered to the
query vocabulary before any shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from flexneuart_spark.config import BM25_B, BM25_K1
from flexneuart_spark.functions.tokenize import code_tokens_col, whitespace_tokens_col


def tokens_df(df: DataFrame, text_col: str, id_col: str, tokenizer: str = "whitespace") -> DataFrame:
    """(id_col, tokens) in a JVM column form: ``code`` or ``whitespace``."""
    if tokenizer not in ("code", "whitespace"):
        raise ValueError(f"no JVM column form of tokenizer {tokenizer!r}; expected 'code' or 'whitespace'")
    tok = code_tokens_col(text_col) if tokenizer == "code" else whitespace_tokens_col(text_col)
    return df.select(F.col(id_col).cast("string").alias(id_col), tok.alias("tokens"))


def bm25_score_relational(
    docs_tok: DataFrame,
    queries_tok: DataFrame,
    k1: float = BM25_K1,
    b: float = BM25_B,
    doc_id_col: str = "doc_id",
) -> DataFrame:
    """All (query_id, doc_id, score) pairs with ≥1 matching term —
    OR-of-terms BM25 without the top-k cut."""
    doc_stats = docs_tok.select(F.col(doc_id_col), F.size("tokens").alias("doc_len"))
    stats = doc_stats.agg(
        F.count("*").alias("n_docs"), F.avg("doc_len").alias("avgdl")
    )

    tf = (
        docs_tok.select(doc_id_col, F.explode("tokens").alias("term"))
        .groupBy(doc_id_col, "term")
        .agg(F.count("*").alias("tf"))
    )
    qt = (
        queries_tok.select("query_id", F.explode("tokens").alias("term"))
        .groupBy("query_id", "term")
        .agg(F.count("*").alias("qtf"))
    )
    # df over the full corpus, then restricted to query terms (broadcast)
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    q_dfreq = dfreq.join(F.broadcast(qt.select("term").distinct()), "term")

    matched = (
        tf.join(F.broadcast(qt), "term")
        .join(F.broadcast(q_dfreq), "term")
        .join(doc_stats, doc_id_col)
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5)))
    tf_norm = F.col("tf") * (F.lit(k1 + 1.0)) / (
        F.col("tf") + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("doc_len") / F.col("avgdl"))
    )
    return (
        matched.withColumn("partial", F.col("qtf") * idf * tf_norm)
        .groupBy("query_id", doc_id_col)
        .agg(F.sum("partial").alias("score"))
    )


def bm25_topk_relational(
    docs_tok: DataFrame,
    queries_tok: DataFrame,
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
    doc_id_col: str = "doc_id",
) -> DataFrame:
    """docs_tok: (doc_id, tokens); queries_tok: (query_id, tokens).
    Returns (query_id, doc_id, score, rank), rank per the tie rule
    (score desc, doc_id desc — ``flexneuart/io/runs.py:61-72``)."""
    scored = bm25_score_relational(docs_tok, queries_tok, k1, b, doc_id_col)
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.desc(doc_id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", doc_id_col, "score", "rank")
    )


def bm25_sparse_vectors(docs_tok: DataFrame, is_query: bool = False) -> DataFrame:
    """BM25-as-dot-product sparse vectors (SURVEY.md §2.8 C9 / §2.1 S9;
    reference ``simil_func/BM25SimilarityLucene.java:171-203``
    ``getBM25SparseVectorNoNorm`` with shared IDF, and the NMSLIB export
    apps ``ExportToNMSLIBSparse.java``):

      doc value   = sqrt(idf) · tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl))
      query value = qtf · sqrt(idf)

    so that ``<query_vec, doc_vec> = BM25(query, doc)`` exactly (checked
    by ``CheckSparseExportScores.java``'s pattern in tests). Returns
    (doc_id, term, value); idf/avgdl computed from ``docs_tok`` itself
    when exporting docs — pass the corpus frame for query export too so
    both sides share statistics. (The BM25 formula appears here and in
    the relational/kernel/oracle implementations BY DESIGN — the
    dual-implementation check pattern; tests pin them together.)"""
    dl = docs_tok.select("doc_id", F.size("tokens").cast("long").alias("doc_len"))
    tf = (
        docs_tok.select("doc_id", F.explode("tokens").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    if is_query:
        # qtf only; sqrt(idf) must be applied against the CORPUS stats by
        # the caller (join on the corpus dictionary) — see tests.
        return tf.select("doc_id", "term", F.col("tf").cast("double").alias("value"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    stats = dl.agg(F.count("*").alias("n_docs"), F.avg("doc_len").alias("avgdl"))
    idf = F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5)))
    tf_norm = F.col("tf") * F.lit(BM25_K1 + 1.0) / (
        F.col("tf")
        + F.lit(BM25_K1) * (F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.col("doc_len") / F.col("avgdl"))
    )
    # dfreq is O(vocabulary): do NOT broadcast-hint it (a 100 TB corpus
    # vocabulary would OOM the driver) — let AQE pick broadcast only when
    # the measured size allows. stats is a single row: always broadcast.
    return (
        tf.join(dl, "doc_id")
        .join(dfreq, "term")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", "term", (F.sqrt(idf) * tf_norm).alias("value"))
    )
