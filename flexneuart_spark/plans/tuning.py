"""BM25 parameter tuning harness (reference: the experiment descriptors
``scripts/gen_exper_desc/gen_bm25_tune_json_desc.py:60-76`` — k1 grid
0.4 + 0.2·i, i ∈ [0,7), b grid; the reference tunes by rerunning retrieval
per grid point and comparing eval metrics).

Spark-first restatement: ONE pass builds the (query, doc) matched
tf/df/doc_len facts; every grid point is then a different column
expression over the same cached facts — Catalyst evaluates all grid
points in a single job instead of |grid| retrieval runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flexneuart_spark.io.trec import rank_run

K1_GRID = [round(0.4 + 0.2 * i, 1) for i in range(7)]  # gen_bm25_tune_json_desc.py:60-76
B_GRID = [0.3, 0.5, 0.75, 0.9]


def bm25_grid_eval(
    docs_tok: DataFrame,
    queries_tok: DataFrame,
    qrels: DataFrame,
    k: int = 10,
    k1_grid: list[float] = K1_GRID,
    b_grid: list[float] = B_GRID,
) -> DataFrame:
    """Returns (k1, b, p_at_k) — mean precision@k per grid point, all grid
    points evaluated over one shared matched-facts frame."""
    dl = docs_tok.select("doc_id", F.size("tokens").alias("doc_len"))
    stats = dl.agg(F.count("*").alias("n_docs"), F.avg("doc_len").alias("avgdl"))
    tf = (
        docs_tok.select("doc_id", F.explode("tokens").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    qt = (
        queries_tok.select("query_id", F.explode("tokens").alias("term"))
        .groupBy("query_id", "term")
        .agg(F.count("*").alias("qtf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    facts = (
        tf.join(F.broadcast(qt), "term")
        .join(F.broadcast(dfreq.join(F.broadcast(qt.select("term").distinct()), "term")), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .persist()
    )
    idf = F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5)))

    out = None
    for k1 in k1_grid:
        for b in b_grid:
            tf_norm = F.col("tf") * F.lit(k1 + 1.0) / (
                F.col("tf") + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("doc_len") / F.col("avgdl"))
            )
            scored = (
                facts.withColumn("partial", F.col("qtf") * idf * tf_norm)
                .groupBy("query_id", "doc_id")
                .agg(F.sum("partial").alias("score"))
            )
            j = rank_run(scored, k).join(qrels.filter(F.col("grade") > 0), ["query_id", "doc_id"], "left")
            per_q = j.groupBy("query_id").agg(
                (F.sum(F.when(F.col("grade") > 0, 1).otherwise(0)) / F.lit(float(k))).alias("p")
            )
            row = per_q.agg(F.avg("p").alias("p_at_k")).select(
                F.lit(k1).alias("k1"), F.lit(b).alias("b"), "p_at_k"
            )
            out = row if out is None else out.unionByName(row)
    return out
