"""Result checks: an untimed reference run from the engine's independent
relational BM25 path, and the forward-table sha256 invariant."""

from __future__ import annotations

import hashlib

import pandas as pd
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flexneuart_spark.config import MAX_DOC_SIZE
from flexneuart_spark.index.builder import derive_doc_id
from flexneuart_spark.search.bm25 import bm25_topk_relational, tokens_df

SCORE_TOL = 1e-6

Run = dict[str, list[tuple[str, int, float]]]  # query_id -> [(doc_id, rank, score)] by rank


def doc_ids(pdf: pd.DataFrame) -> pd.Series:
    """The engine's doc id (``derive_doc_id``: repo:path@commit)."""
    return pdf["repo"] + ":" + pdf["path"] + "@" + pdf["commit"]


def to_run(rows) -> Run:
    run: Run = {}
    for r in rows:
        run.setdefault(r.query_id, []).append((r.doc_id, int(r.rank), float(r.score)))
    for lst in run.values():
        lst.sort(key=lambda t: t[1])
    return run


def reference_run(spark: SparkSession, corpus: DataFrame, queries: list[tuple[str, str]], k: int) -> Run:
    """Top-k by ``bm25_topk_relational`` over the same (truncated) text the
    builder indexes — a plan with no postings, codec or kernel in it."""
    docs = derive_doc_id(corpus).select(
        "doc_id", F.substring("content", 1, MAX_DOC_SIZE).alias("content")
    )
    q = spark.createDataFrame(queries, "query_id string, text string")
    # the plan reads the doc tokens three times; tokenize once
    docs_tok = tokens_df(docs, "content", "doc_id", tokenizer="code").persist()
    try:
        top = bm25_topk_relational(docs_tok, tokens_df(q, "text", "query_id", tokenizer="code"), k=k)
        return to_run(top.collect())
    finally:
        docs_tok.unpersist()


def run_matches(got: Run, want: Run, qids) -> bool:
    """Doc ids and ranks exact, scores within ``SCORE_TOL``."""
    for qid in qids:
        g, w = got.get(qid, []), want.get(qid, [])
        if len(g) != len(w):
            return False
        for (gd, gr, gs), (wd, wr, ws) in zip(g, w):
            if gd != wd or gr != wr or abs(gs - ws) > SCORE_TOL:
                return False
    return True


def swap_two_ranks(run: Run) -> Run:
    """A deliberately corrupted copy: the first two ranks of the first query
    with ≥2 results trade doc ids (used to prove failures are counted)."""
    out = {q: list(v) for q, v in run.items()}
    for lst in out.values():
        if len(lst) >= 2:
            (d0, r0, s0), (d1, r1, s1) = lst[0], lst[1]
            lst[0], lst[1] = (d1, r0, s0), (d0, r1, s1)
            break
    return out


def fwd_sha_ok(fwd_dir: str, corpus: pd.DataFrame) -> bool:
    """Every forward-table row's ``content_sha256`` equals sha256 of its input
    row's content, and every input doc is present exactly once."""
    t = ds.dataset(fwd_dir, format="parquet", partitioning="hive").to_table(
        columns=["doc_id", "content_sha256"]
    )
    got = dict(zip(t.column("doc_id").to_pylist(), t.column("content_sha256").to_pylist()))
    if len(got) != t.num_rows or len(got) != len(corpus):
        return False
    for did, content in zip(doc_ids(corpus), corpus["content"]):
        if got.get(did) != hashlib.sha256(content.encode("utf-8")).hexdigest():
            return False
    return True
