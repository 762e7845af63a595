"""TREC io round-trips (pattern of reference tests/test_io.py:15-30) and
metric spot values on hand-computed rankings (FIXTURES.md §5)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from flexneuart_spark import eval as fx_eval
from flexneuart_spark.io.trec import read_qrels, read_run, write_qrels, write_run

RUN_ROWS = [
    # query_id, doc_id, score — q1 has a score tie broken by doc_id desc
    ("q1", "d1", 2.5),
    ("q1", "d2", 3.0),
    ("q1", "d3", 3.0),
    ("q2", "d1", 1.0),
]
QREL_ROWS = [
    ("q1", "d3", 2),
    ("q1", "d9", 1),  # relevant but not retrieved
    ("q2", "d1", 0),  # graded 0 = non-relevant
]


@pytest.fixture(scope="module")
def run(spark):
    return spark.createDataFrame(RUN_ROWS, ["query_id", "doc_id", "score"])


@pytest.fixture(scope="module")
def qrels(spark):
    return spark.createDataFrame(QREL_ROWS, ["query_id", "doc_id", "grade"])


def test_run_roundtrip_and_tie_rule(spark, run, tmp_path):
    p = str(tmp_path / "run")
    write_run(run, p, run_id="test_run")
    back = read_run(spark, p)
    rows = {(r.query_id, r.doc_id): (r.rank, r.score, r.run_id) for r in back.collect()}
    # tie rule (score desc, doc_id desc): d3 before d2 at equal score
    assert rows[("q1", "d3")][0] == 1
    assert rows[("q1", "d2")][0] == 2
    assert rows[("q1", "d1")][0] == 3
    assert rows[("q2", "d1")] == (1, 1.0, "test_run")


def test_qrels_roundtrip(spark, qrels, tmp_path):
    p = str(tmp_path / "qrels")
    write_qrels(qrels, p)
    back = read_qrels(spark, p)
    assert {tuple(r) for r in back.collect()} == set(QREL_ROWS)


@pytest.fixture(scope="module")
def ranked(spark, run):
    from flexneuart_spark.io.trec import run_df_from_search

    return run_df_from_search(run)


def test_precision_and_mrr(spark, ranked, qrels):
    # q1: ranks d3(rel),d2,d1 → P@2 = 1/2, RR = 1; q2: no rel → 0
    p2 = {r.query_id: r.p for r in fx_eval.precision_at(ranked, qrels, 2).collect()}
    assert p2["q1"] == pytest.approx(0.5) and p2["q2"] == 0.0
    rr = {r.query_id: r.rr for r in fx_eval.reciprocal_rank(ranked, qrels).collect()}
    assert rr["q1"] == 1.0 and rr["q2"] == 0.0


def test_average_precision(spark, ranked, qrels):
    # q1: rel retrieved at rank 1 of 2 total rel → AP = (1/1)/2 = 0.5
    ap = {r.query_id: r.ap for r in fx_eval.average_precision(ranked, qrels).collect()}
    assert ap["q1"] == pytest.approx(0.5)


def test_ndcg(spark, ranked, qrels):
    # default gain is linear (trec_eval ndcg_cut / reference internal):
    # q1 DCG = 2/log2(2) = 2; IDCG = 2 + 1/log2(3)
    nd = {r.query_id: r.ndcg for r in fx_eval.ndcg_at(ranked, qrels, 3).collect()}
    assert nd["q1"] == pytest.approx(2.0 / (2.0 + 1.0 / math.log2(3)), rel=1e-9)
    # exp gain (Burges 2^g−1): DCG = (2^2-1)/log2(2) = 3; IDCG = 3 + 1/log2(3)
    nd = {r.query_id: r.ndcg for r in fx_eval.ndcg_at(ranked, qrels, 3, gain="exp").collect()}
    assert nd["q1"] == pytest.approx(3.0 / (3.0 + 1.0 / math.log2(3)), rel=1e-9)


def test_evaluate_means(spark, ranked, qrels):
    # default zero_rel_queries="skip" (trec_eval): q2 has only a grade-0
    # judgment → dropped from every mean → means over {q1}
    m = fx_eval.evaluate(ranked, qrels, cutoffs=(5, 10))
    assert m["mrr"] == pytest.approx(1.0)
    assert m["map"] == pytest.approx(0.5)
    # "count" (reference internal_eval): q2 scores 0 but stays in the
    # denominator → means over {q1, q2}
    m = fx_eval.evaluate(ranked, qrels, cutoffs=(5, 10), zero_rel_queries="count")
    assert m["mrr"] == pytest.approx(0.5)
    assert m["map"] == pytest.approx(0.25)


def test_recall_at_k(spark, ranked, qrels):
    # q1: top-2 = d3(rel), d2 → 1 hit of 2 total rel → 0.5; q2: no rel → 0
    rc = {r.query_id: r.recall for r in fx_eval.recall_at(ranked, qrels, 2).collect()}
    assert rc["q1"] == pytest.approx(0.5) and rc["q2"] == 0.0
    # at k=10 both rel docs can't be found (d9 unretrieved) → still 0.5
    rc10 = {r.query_id: r.recall for r in fx_eval.recall_at(ranked, qrels, 10).collect()}
    assert rc10["q1"] == pytest.approx(0.5)


def test_r_precision(spark, ranked, qrels):
    # q1: R = 2 total rel, top-2 contains d3 → 1/2; q2: R=0 → 0 (max(R,1) denom)
    rp = {r.query_id: r.r_prec for r in fx_eval.r_precision(ranked, qrels).collect()}
    assert rp["q1"] == pytest.approx(0.5) and rp["q2"] == 0.0


def test_evaluate_includes_new_metrics(spark, ranked, qrels):
    m = fx_eval.evaluate(ranked, qrels, cutoffs=(5,))
    assert m["r_precision"] == pytest.approx(0.5)  # mean over {q1} (q2 zero-rel → skipped)
    assert m["recall@5"] == pytest.approx(0.5)
    m = fx_eval.evaluate(ranked, qrels, cutoffs=(5,), zero_rel_queries="count")
    assert m["r_precision"] == pytest.approx(0.25)  # mean of (0.5, 0)
    assert m["recall@5"] == pytest.approx(0.25)


def test_evaluate_no_overlap_returns_zero_metrics(spark):
    """run/qrels query-id mismatch (or all-zero grades): the metric dict
    keeps its full stable shape with 0.0 values — not an empty dict that
    turns downstream lookups into KeyErrors."""
    run = spark.createDataFrame(
        [("q1", "d1", 1.0, 1)], "query_id string, doc_id string, score double, rank int"
    )
    qrels = spark.createDataFrame(
        [("OTHER", "d1", 1)], "query_id string, doc_id string, grade int"
    )
    out = fx_eval.evaluate(run, qrels)
    assert out["map"] == 0.0 and out["mrr"] == 0.0
    assert any(k.startswith("ndcg@") for k in out)
    assert all(v == 0.0 for v in out.values())


def test_read_qrels_rejects_short_lines(spark, tmp_path):
    p = tmp_path / "qrels.txt"
    p.write_text("q1 0 d1 2\nq1 0 d9\n\nq2 0 d1 0\nbroken\n")
    got = read_qrels(spark, str(p)).collect()
    assert {(r.query_id, r.doc_id, r.grade) for r in got} == {("q1", "d1", 2), ("q2", "d1", 0)}
    assert all(r.doc_id is not None and r.grade is not None for r in got)


def test_read_run_rejects_short_lines(spark, tmp_path):
    p = tmp_path / "run.txt"
    p.write_text("q1 Q0 d1 1 3.5 sys\nq1 Q0 d2 2\nq2 Q0 d1 1 1.0 sys\n")
    got = read_run(spark, str(p)).collect()
    assert {(r.query_id, r.doc_id) for r in got} == {("q1", "d1"), ("q2", "d1")}
    assert all(r.score is not None and r.run_id is not None for r in got)


def test_numeric_query_ids_in_json_file(spark, tmp_path):
    """A ``.json`` query file (one JSON array) with NUMERIC query ids:
    read_queries must return string ids, so the run joins the string
    query_id of TREC qrels and metrics come out non-zero."""
    import json

    from flexneuart_spark.fixtures import make_corpus
    from flexneuart_spark.index.builder import build_index
    from flexneuart_spark.io.trec import read_queries
    from flexneuart_spark.search.engine import Searcher

    qfile = tmp_path / "queries.json"
    qfile.write_text(json.dumps([
        {"query_id": 1, "text": "def return class"},
        {"query_id": 22, "text": "import numpy"},
    ], indent=2))  # pretty-printed: a line-mode JSON reader sees only fragments
    queries = read_queries(spark, str(qfile))
    assert sorted(queries) == [("1", "def return class"), ("22", "import numpy")]

    idx = build_index(spark, spark.createDataFrame(make_corpus(60, 7)), str(tmp_path / "idx"), num_shards=2)
    run = Searcher(spark, idx).search(queries, k=5)
    top = {r.query_id: r.doc_id for r in run.filter("rank = 1").collect()}
    assert set(top) == {"1", "22"}
    qrels_path = tmp_path / "qrels.txt"
    qrels_path.write_text("".join(f"{q} 0 {d} 1\n" for q, d in top.items()))
    metrics = fx_eval.evaluate(run, read_qrels(spark, str(qrels_path)))
    assert metrics["map"] == pytest.approx(1.0)
    assert metrics["mrr"] == pytest.approx(1.0)


def test_rank_run_tie_rule_and_cut(spark, run):
    """The one run tail: rank per query by score desc, doc_id desc on
    ties; rank is an int; ``k`` keeps rank ≤ k, ``k=None`` keeps all."""
    from pyspark.sql.types import IntegerType

    from flexneuart_spark.io.trec import rank_run

    full = rank_run(run)
    assert full.columns == ["query_id", "doc_id", "score", "rank"]
    assert full.schema["rank"].dataType == IntegerType()
    got = sorted((r.query_id, r.rank, r.doc_id) for r in full.collect())
    assert got == [("q1", 1, "d3"), ("q1", 2, "d2"), ("q1", 3, "d1"), ("q2", 1, "d1")]
    assert all(isinstance(r.rank, int) for r in full.collect())
    cut = sorted((r.query_id, r.rank, r.doc_id) for r in rank_run(run, k=2).collect())
    assert cut == [("q1", 1, "d3"), ("q1", 2, "d2"), ("q2", 1, "d1")]
    # a named score column: ranked by it (all tied → doc_id desc), name kept
    alt = rank_run(run.withColumn("s2", F.lit(1.0)), k=1, score="s2")
    assert alt.columns == ["query_id", "doc_id", "s2", "rank"]
    assert sorted((r.query_id, r.doc_id) for r in alt.collect()) == [("q1", "d3"), ("q2", "d1")]
