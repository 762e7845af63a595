"""TREC qrels / run readers and writers (SURVEY.md §2.1 S3/S4).

Formats (reference):
- qrels: 4-column ``qid 0 did grade`` (``flexneuart/io/qrels.py:28-67``).
- runs: 6-column ``qid Q0 did rank score runId``
  (``flexneuart/io/runs.py:24-92``; Java writer
  ``utils/EvalUtils.java:48-94``). Before writing, entries are re-sorted
  by (score desc, doc_id desc) — the load-bearing tie rule
  (``runs.py:61-72``) — and ranks re-enumerated from 1.

Readers/writers are Spark DataFrames over whitespace-separated text
(``spark.read.csv(sep=' ')``); a run of any size streams through
executors — nothing is collected to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flexneuart_spark.config import DEFAULT_RUN_ID


def read_qrels(spark: SparkSession, path: str) -> DataFrame:
    # TREC files in the wild are whitespace-delimited (tabs OR spaces —
    # the reference's FileWrapper reader splits on any whitespace), so
    # read as text and split, not as single-space csv
    p = F.split(F.trim(F.col("value")), r"\s+")
    return (
        spark.read.text(path)
        .filter(F.trim("value") != "")
        .filter(F.size(p) >= 4)  # reject short/malformed lines outright
        .select(
            p.getItem(0).alias("query_id"),
            p.getItem(2).alias("doc_id"),
            p.getItem(3).cast("int").alias("grade"),
        )
    )


def read_queries(spark: SparkSession, path: str) -> list[tuple[str, str]]:
    """[(query_id, text)] from a ``.jsonl`` (one object per line), ``.json``
    (ONE document — an array or object — so read multiLine) or parquet
    query file. Both columns are cast to string: numeric ids in a JSON
    file would otherwise come back as longs and never join the string
    ``query_id`` of the qrels, zeroing every metric without an error."""
    if path.endswith(".jsonl"):
        qdf = spark.read.json(path)
    elif path.endswith(".json"):
        qdf = spark.read.option("multiLine", True).json(path)
    else:
        qdf = spark.read.parquet(path)
    qdf = qdf.select(F.col("query_id").cast("string"), F.col("text").cast("string"))
    return [(r.query_id, r.text) for r in qdf.collect()]


def write_qrels(qrels: DataFrame, path: str) -> None:
    (
        qrels.select("query_id", F.lit("0"), "doc_id", F.col("grade").cast("string"))
        .write.mode("overwrite")
        .csv(path, sep=" ")
    )


def read_run(spark: SparkSession, path: str) -> DataFrame:
    p = F.split(F.trim(F.col("value")), r"\s+")
    return (
        spark.read.text(path)
        .filter(F.trim("value") != "")
        .filter(F.size(p) >= 6)  # reject short/malformed lines outright
        .select(
            p.getItem(0).alias("query_id"),
            p.getItem(2).alias("doc_id"),
            p.getItem(3).cast("int").alias("rank"),
            p.getItem(4).cast("double").alias("score"),
            p.getItem(5).alias("run_id"),
        )
    )


def rank_run(scored: DataFrame, k: int | None = None, score: str = "score") -> DataFrame:
    """The one run tail: (query_id, doc_id, <score>, rank) ranked per
    query under the reference tie rule — ``score`` desc, then doc_id
    desc (runs.py:61-72) — keeping rank ≤ ``k`` when ``k`` is given."""
    w = Window.partitionBy("query_id").orderBy(F.desc(score), F.desc("doc_id"))
    ranked = scored.withColumn("rank", F.row_number().over(w))
    if k is not None:
        ranked = ranked.filter(F.col("rank") <= k)
    return ranked.select("query_id", "doc_id", score, "rank")


def run_df_from_search(run: DataFrame, run_id: str = DEFAULT_RUN_ID) -> DataFrame:
    """Normalize a (query_id, doc_id, score[, rank]) frame into TREC shape:
    re-sort by the tie rule, re-enumerate ranks (runs.py:61-72,88-92)."""
    return rank_run(run.select("query_id", "doc_id", "score")).withColumn("run_id", F.lit(run_id))


def write_run(run: DataFrame, path: str, run_id: str = DEFAULT_RUN_ID) -> None:
    normalized = run_df_from_search(run, run_id)
    (
        normalized.select(
            "query_id",
            F.lit("Q0"),
            "doc_id",
            F.col("rank").cast("string"),
            F.format_string("%.6f", F.col("score")).alias("score"),
            "run_id",
        )
        .write.mode("overwrite")
        .csv(path, sep=" ")
    )
