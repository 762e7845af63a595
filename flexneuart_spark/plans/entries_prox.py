"""Driver-contract entries for the close-pair proximity similarities
(SURVEY.md §2.8 C3 — BM25CloseOrderPairSimilQueryNorm /
BM25CloseUnorderPairSimilQueryNorm), each with an exact DuckDB oracle.

Window defaults: query_window=4 (pair gap < 4 in the query sequence),
doc_window=8 (gap < 8 in the doc sequence). Pair identity for the
unordered variant canonicalizes by term string — equivalent to the
reference's by-word-id canonicalization because our word ids ascend in
term order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flexneuart_spark.plans.entries import (
    DOC_QUERIES,
    K,
    SQL_BM25_SCORED,
    SQL_QTOK,
    SQL_TOK,
    _engine_index,
    _rounded_topk,
)
from flexneuart_spark.search.proximity import proximity_topk

QW, DW = 4, 8
_QW_GAP, _DW_GAP = QW - 1, DW - 1


def _prox_entry(ordered: bool):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        tables = _engine_index(spark, sf_dir)
        run = proximity_topk(
            spark,
            tables,
            DOC_QUERIES,
            k=50,
            query_window=QW,
            doc_window=DW,
            ordered=ordered,
        )
        run = run.select("query_id", F.col("doc_id").cast("long").alias("doc_id"), "score")
        return _rounded_topk(run)

    return fn


q_bm25_prox_ordered = _prox_entry(True)
q_bm25_prox_unordered = _prox_entry(False)


def _pair_expr(a: str, b: str, ordered: bool) -> str:
    if ordered:
        return f"{a} || chr(9) || {b}"
    return f"least({a}, {b}) || chr(9) || greatest({a}, {b})"


# shared CTEs used by both variants (and by the SDM combination)
_COMMON_CTES = r"""
toklist AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS l
  FROM documents
),
idf AS (
  SELECT term, ln(1.0 + ((SELECT n_docs FROM stats) - df + 0.5) / (df + 0.5)) AS idf
  FROM dfreq
),
qtoklist AS (
  SELECT query_id, list_filter(string_split_regex(qtext, '\s+'), x -> x <> '') AS ql
  FROM qraw
),
qnorm AS (
  SELECT q.query_id, sum(i.idf) AS qnorm
  FROM (SELECT DISTINCT query_id, term FROM qtok) q JOIN idf i USING (term)
  GROUP BY 1
)"""


def _prox_ctes(ordered: bool, sfx: str) -> str:
    """CTE chain computing the query-idf-normalized close-pair score as
    ``prox{sfx}(query_id, doc_id, score)`` — suffixed so the ordered and
    unordered variants can coexist in one statement (SDM)."""
    dpair = _pair_expr("l[i]", "l[k]", ordered)
    qpair = _pair_expr("ql[i]", "ql[k]", ordered)
    return rf"""
qp_raw{sfx} AS (
  SELECT query_id,
         unnest(flatten(list_transform(range(1, len(ql) + 1),
           i -> list_transform(range(i + 1, least(len(ql), i + {_QW_GAP}) + 1),
             k -> CASE WHEN ql[i] = ql[k] THEN NULL ELSE {qpair} END)))) AS pair
  FROM qtoklist WHERE len(ql) >= 2
),
qp{sfx} AS (
  SELECT DISTINCT query_id, pair FROM qp_raw{sfx}
  WHERE pair IS NOT NULL
    AND split_part(pair, chr(9), 1) IN (SELECT term FROM dfreq)
    AND split_part(pair, chr(9), 2) IN (SELECT term FROM dfreq)
),
dp{sfx} AS (
  SELECT doc_id,
         unnest(flatten(list_transform(range(1, len(l) + 1),
           i -> list_transform(range(i + 1, least(len(l), i + {_DW_GAP}) + 1),
             k -> CASE WHEN l[i] = l[k] THEN NULL ELSE {dpair} END)))) AS pair
  FROM toklist WHERE len(l) >= 2
),
dpc{sfx} AS (
  SELECT doc_id, pair, CAST(count(*) AS BIGINT) AS tf
  FROM dp{sfx} WHERE pair IS NOT NULL GROUP BY 1, 2
),
pairscore{sfx} AS (
  SELECT q.query_id, d.doc_id,
         sum(d.tf * (1.2 + 1.0) / (d.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.doc_len / s.avgdl))
             * 0.5 * (i1.idf + i2.idf)) AS score
  FROM qp{sfx} q
  JOIN dpc{sfx} d USING (pair)
  JOIN dl ON d.doc_id = dl.doc_id
  CROSS JOIN stats s
  JOIN idf i1 ON i1.term = split_part(pair, chr(9), 1)
  JOIN idf i2 ON i2.term = split_part(pair, chr(9), 2)
  GROUP BY 1, 2
),
prox{sfx} AS (
  SELECT p.query_id, p.doc_id, p.score / n.qnorm AS score
  FROM pairscore{sfx} p JOIN qnorm n ON p.query_id = n.query_id
)"""


def _prox_sql(ordered: bool) -> str:
    return rf"""
WITH {SQL_TOK}, {SQL_QTOK}, {_COMMON_CTES}, {_prox_ctes(ordered, "")},
topk AS (
  SELECT query_id, doc_id, round(score, 4) AS score_r,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY round(score, 4) DESC, doc_id DESC) AS INT) AS rank
  FROM prox
)
SELECT query_id, doc_id, score_r, rank FROM topk WHERE rank <= {K}
"""


# ---------------------------------------------------------------------------
# SDM (SURVEY.md §2.8 C4): weighted unigram + ordered + unordered combination
# ---------------------------------------------------------------------------

W_UNI, W_ORD, W_UNORD = 0.8, 0.1, 0.1


def q_sdm_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flexneuart_spark.search.proximity import sdm_topk

    tables = _engine_index(spark, sf_dir)
    run = sdm_topk(
        spark,
        tables,
        DOC_QUERIES,
        # fetch an over-buffer and let _rounded_topk apply the rounded-score
        # cut at K: truncating at exactly K inside sdm_topk would break ties
        # on the UNROUNDED score / string doc_id order, which can disagree
        # with the oracle's round(score,4) + numeric doc_id rule at the
        # boundary (ENGINE_BUFFER discipline, entries.py:32)
        k=50,
        w_unigram=W_UNI,
        w_ordered=W_ORD,
        w_unordered=W_UNORD,
        query_window=QW,
        doc_window=DW,
        component_k=10_000_000,  # exhaustive components → exactly SQL-expressible
    )
    run = run.select("query_id", F.col("doc_id").cast("long").alias("doc_id"), "score")
    return _rounded_topk(run)


# missing components contribute 0 (the Spark side's outer-join + fillna):
# UNION ALL + sum is the same algebra.
SQL_SDM_TOPK = rf"""
WITH {SQL_TOK}, {SQL_QTOK}, {SQL_BM25_SCORED}, {_COMMON_CTES},
{_prox_ctes(True, "_o")}, {_prox_ctes(False, "_u")},
allparts AS (
  SELECT query_id, doc_id, {W_UNI} * score AS s FROM scored
  UNION ALL SELECT query_id, doc_id, {W_ORD} * score FROM prox_o
  UNION ALL SELECT query_id, doc_id, {W_UNORD} * score FROM prox_u
),
comb AS (SELECT query_id, doc_id, sum(s) AS score FROM allparts GROUP BY 1, 2),
topk AS (
  SELECT query_id, doc_id, round(score, 4) AS score_r,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY round(score, 4) DESC, doc_id DESC) AS INT) AS rank
  FROM comb
)
SELECT query_id, doc_id, score_r, rank FROM topk WHERE rank <= {K}
"""


PROX_QUERIES_REG = {
    "bm25_prox_ordered": q_bm25_prox_ordered,
    "bm25_prox_unordered": q_bm25_prox_unordered,
    "sdm_topk": q_sdm_topk,
}

PROX_ORACLE_SQL = {
    "bm25_prox_ordered": _prox_sql(True),
    "bm25_prox_unordered": _prox_sql(False),
    "sdm_topk": SQL_SDM_TOPK,
}
