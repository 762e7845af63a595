"""THE correctness gate (BASELINE.json metric): BM25 top-k rank-identity
vs the reference-semantics numpy oracle, for the pruned (MaxScore/block-max)
engine, the exhaustive kernel, and the pure-relational formulation —
the reference's dual-implementation oracle pattern
(``ranker/bm25py.py:17-20``, ``compare_eval_tools.py``)."""

from __future__ import annotations

import pandas as pd
import pytest

from flexneuart_spark.fixtures import make_corpus, make_queries
from flexneuart_spark.functions.tokenize import code_tokenize
from flexneuart_spark.index.builder import build_index
from flexneuart_spark.oracle import Bm25Oracle
from flexneuart_spark.search.bm25 import bm25_topk_relational, tokens_df
from flexneuart_spark.search.engine import Searcher
from tests.conftest import assert_rank_identical

K = 10


@pytest.fixture(scope="module")
def setup(spark, tmp_path_factory):
    corpus = make_corpus(n_docs=400, seed=42)
    queries = make_queries(n_queries=25, seed=43)
    idx_dir = str(tmp_path_factory.mktemp("idx_ri"))
    sdf = spark.createDataFrame(corpus)
    tables = build_index(spark, sdf, idx_dir, num_shards=8, tokenizer="code")
    docs = [
        (f"{r.repo}:{r.path}@{r.commit}", code_tokenize(r.content))
        for r in corpus.itertuples(index=False)
    ]
    oracle = Bm25Oracle(docs)
    qlist = [(r.query_id, r.text) for r in queries.itertuples(index=False)]
    golden = {qid: oracle.search(code_tokenize(text), K) for qid, text in qlist}
    return tables, qlist, golden, corpus, queries


def _collect_run(df):
    out = {}
    for r in df.orderBy("query_id", "rank").collect():
        out.setdefault(r.query_id, []).append((r.doc_id, r.score))
    return out


def test_engine_pruned_rank_identity(spark, setup):
    tables, qlist, golden, _, _ = setup
    run = _collect_run(Searcher(spark, tables).search(qlist, k=K))
    for qid, want in golden.items():
        got = run.get(qid, [])
        assert_rank_identical(got, want)


def test_engine_exhaustive_rank_identity(spark, setup):
    tables, qlist, golden, _, _ = setup
    run = _collect_run(Searcher(spark, tables).search(qlist, k=K, kernel="exhaustive"))
    for qid, want in golden.items():
        assert_rank_identical(run.get(qid, []), want)


def test_engine_bmw_rank_identity(spark, setup):
    """Block-Max WAND kernel (the north rule's literal algorithm) through
    the full distributed engine: rank-identical to the numpy oracle."""
    tables, qlist, golden, _, _ = setup
    run = _collect_run(Searcher(spark, tables).search(qlist, k=K, kernel="bmw"))
    for qid, want in golden.items():
        assert_rank_identical(run.get(qid, []), want)


def test_relational_rank_identity(spark, setup):
    _, qlist, golden, corpus, queries = setup
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [f"{r.repo}:{r.path}@{r.commit}" for r in corpus.itertuples(index=False)],
                "content": corpus["content"],
            }
        )
    )
    docs_tok = tokens_df(docs, "content", "doc_id", tokenizer="code")
    q_tok = tokens_df(spark.createDataFrame(queries), "text", "query_id", tokenizer="code")
    run = _collect_run(bm25_topk_relational(docs_tok, q_tok, k=K))
    for qid, want in golden.items():
        assert_rank_identical(run.get(qid, []), want)


def test_empty_query_returns_nothing(spark, setup):
    tables, qlist, golden, _, _ = setup
    empty_qids = [qid for qid, text in qlist if not code_tokenize(text)]
    assert empty_qids  # fixture guarantees one
    run = _collect_run(Searcher(spark, tables).search(qlist, k=K))
    for qid in empty_qids:
        assert qid not in run


def test_cold_warm_oracle_identity(spark, setup):
    """A warmed searcher (cached postings + doc map + idf) must be
    row-identical to a cold one reading parquet, AND rank-identical to
    the oracle golden run — for every kernel."""
    tables, qlist, golden, _, _ = setup
    cold = Searcher(spark, tables)
    warmed = Searcher(spark, tables).warm()
    assert warmed._idf_cache is not None
    for kernel in ("maxscore", "bmw", "exhaustive"):
        run_warm = _collect_run(warmed.search(qlist, k=K, kernel=kernel))
        assert run_warm == _collect_run(cold.search(qlist, k=K, kernel=kernel)), kernel
        for qid, want in golden.items():
            assert_rank_identical(run_warm.get(qid, []), want)


def test_unknown_kernel_rejected(spark, setup):
    tables, qlist, _, _, _ = setup
    with pytest.raises(ValueError, match="unknown kernel"):
        Searcher(spark, tables).search(qlist, k=K, kernel="wand")
