"""ColBERT-style late interaction (MaxSim) over term embeddings.

Reference: ``flexneuart/models/colbert/colbert.py:124`` (``scores =
scores_padded.max(1).values`` — max over doc tokens) and the sum over
query tokens in ``models/base_bert_late_interaction.py`` /
``colbert.py:109``:  score(q, d) = Σ_{i ∈ q} max_{j ∈ d} sim(q_i, d_j).

Two equivalent forms:

- **relational** (oracle twin): explode both sides to distinct terms,
  equi-free join bounded by the broadcast query-term side, groupBy-max
  then groupBy-sum. Fully expressible in DuckDB SQL → full value-hash
  gate in the driver contract.
- **Arrow kernel** (scale path): one pandas UDF over the documents
  table with the query's term matrix broadcast — per doc a single tiny
  matmul + max/sum; zero shuffle beyond the final top-k.

MaxSim here uses DISTINCT doc terms: max over positions of a repeated
term equals the term's own similarity, so distinct-ing is a lossless
optimization of the reference semantics (colbert.py:124's max makes
duplicates irrelevant).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flexneuart_spark.neural import register
from flexneuart_spark.neural.embeddings import (
    hash_dot_col,
    hash_embedding_col,
    hash_embedding_np,
    sql_dot,
    sql_embedding_cte,
)
from flexneuart_spark.neural.pivot import pivot_reduce


def maxsim_scores(docs_tok: DataFrame, q_tok: DataFrame) -> DataFrame:
    """(query_id, doc_id, score): Σ over distinct query terms of the max
    cosine against the doc's distinct terms.

    Scale shape: embeddings and cosines are computed ONCE on the
    vocabulary — a V×Q table built by a broadcast nested-loop against
    the tiny distinct-query-term side — and reduced per doc by the
    shared pivoted corpus join (``neural/pivot.py``): the (doc_id, term)
    table is never row-multiplied by Q, and the per-doc MaxSim is Q
    map-side-combinable ``max`` aggregates over one ``groupBy(doc_id)``
    shuffle. (The long form — join the V×Q table directly, then groupBy
    (doc, qterm) — shuffled |dterms|·Q rows: 16.2× growth on 10× data at
    sf1, 103 s; it remains the fallback past the pivot's column budget.)

    The expensive md5/cos expressions still touch O(V·Q) rows, never
    O(corpus·Q). (A naive cross-join-then-compute re-evaluates 8 md5s
    per PAIR row — measured 50× slower at sf0.1.)
    """
    dterms = docs_tok.select("doc_id", F.explode("tokens").alias("term")).distinct()
    qterms = q_tok.select("query_id", F.explode("tokens").alias("qterm")).distinct()

    demb = dterms.select("term").distinct().withColumn("demb", hash_embedding_col("term"))
    qemb = qterms.select("qterm").distinct().withColumn("qemb", hash_embedding_col("qterm"))
    cos = demb.crossJoin(F.broadcast(qemb)).select(
        "term", "qterm", hash_dot_col(F.col("qemb"), F.col("demb")).alias("cosm")
    )
    best = pivot_reduce(dterms, cos, qterms, {"best": lambda v: F.max(v("cosm"))})
    scored = best.join(F.broadcast(qterms), "qterm")
    return scored.groupBy("query_id", "doc_id").agg(F.sum("best").alias("score"))


def sql_maxsim() -> str:
    """CTE chain over the shared tok/qtok CTEs producing
    (query_id, doc_id, score) — the exact relational twin."""
    demb = sql_embedding_cte("(SELECT DISTINCT term FROM tok)")
    qemb = sql_embedding_cte("(SELECT DISTINCT term FROM qtok)")
    cos = sql_dot("de", "qe")
    return f"""
mdemb AS (SELECT * FROM {demb}),
mqemb AS (SELECT * FROM {qemb}),
mpairs AS (
  SELECT q.query_id, q.term AS qterm, d.doc_id, ({cos}) AS cosm
  FROM (SELECT DISTINCT doc_id, term FROM tok) d
  JOIN mdemb de ON d.term = de.term
  CROSS JOIN (SELECT DISTINCT query_id, term FROM qtok) q
  JOIN mqemb qe ON q.term = qe.term
),
mbest AS (
  SELECT query_id, qterm, doc_id, max(cosm) AS best
  FROM mpairs GROUP BY 1, 2, 3
),
mscore AS (
  SELECT query_id, doc_id, sum(best) AS score
  FROM mbest GROUP BY 1, 2
)"""


def maxsim_batch(doc_tokens_lists, q_terms: list[str]) -> np.ndarray:
    """Arrow-kernel twin: scores for a batch of docs against one query."""
    qm = hash_embedding_np(q_terms)
    out = np.empty(len(doc_tokens_lists))
    for i, toks in enumerate(doc_tokens_lists):
        if toks is None or len(toks) == 0:
            out[i] = float(len(q_terms)) * -1.0  # all-max of empty: worst
            continue
        dm = hash_embedding_np(sorted(set(toks)))
        out[i] = float((qm @ dm.T).max(axis=1).sum())
    return out


@register("maxsim")
class MaxSim:
    """Parameter-free late-interaction model (registry/serializer shape
    parity with the trained heads)."""

    def __init__(self):
        self.max_query_len = 64
        self.max_doc_len = 8192

    def model_args(self) -> dict:
        return {}

    def weights(self):
        return {}

    def set_weights(self, wts) -> None:
        pass
