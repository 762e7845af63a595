"""Close-pair proximity BM25 (C3): distributed positional-index scoring
vs an independent naive nested-loop oracle (the reference's own loop
shape, BM25CloseOrderPairSimilQueryNorm.java:44-120)."""

from __future__ import annotations

import numpy as np
import pytest

from flexneuart_spark.config import BM25_B, BM25_K1
from flexneuart_spark.fixtures import make_corpus, make_queries
from flexneuart_spark.functions.tokenize import code_tokenize
from flexneuart_spark.index.builder import build_index
from flexneuart_spark.oracle import Bm25Oracle
from flexneuart_spark.search.proximity import proximity_topk


def naive_close_pair_score(q_toks, d_toks, idf, avgdl, qw, dw, ordered, k1=BM25_K1, b=BM25_B):
    """Independent transcription of the reference semantics: nested loops,
    dict counting; terms not in ``idf`` are OOV."""
    def key(a, b_):
        return (a, b_) if ordered else (min(a, b_), max(a, b_))

    qp = {}
    for i in range(len(q_toks) - 1):
        for k in range(i + 1, min(len(q_toks), i + qw)):
            a, b_ = q_toks[i], q_toks[k]
            if a in idf and b_ in idf and a != b_:
                qp[key(a, b_)] = 0
    for i in range(len(d_toks) - 1):
        for k in range(i + 1, min(len(d_toks), i + dw)):
            a, b_ = d_toks[i], d_toks[k]
            if a in idf and b_ in idf and a != b_:
                kk = key(a, b_)
                if kk in qp:
                    qp[kk] += 1
    dl = len(d_toks)
    score = 0.0
    for (a, b_), tf in qp.items():
        if tf > 0:
            norm_tf = tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))
            score += norm_tf * 0.5 * (idf[a] + idf[b_])
    norm = sum(idf[t] for t in set(q_toks) if t in idf)
    return score / norm if norm > 0 else 0.0


@pytest.fixture(scope="module")
def setup(spark, tmp_path_factory):
    corpus = make_corpus(n_docs=250, seed=42)
    idx = str(tmp_path_factory.mktemp("prox_idx"))
    tables = build_index(spark, spark.createDataFrame(corpus), idx, num_shards=4)
    docs = [
        (f"{r.repo}:{r.path}@{r.commit}", code_tokenize(r.content))
        for r in corpus.itertuples(index=False)
    ]
    oracle = Bm25Oracle(docs)
    return tables, docs, oracle


@pytest.mark.parametrize("ordered", [True, False])
def test_proximity_matches_naive_oracle(spark, setup, ordered):
    tables, docs, oracle = setup
    queries = [(r.query_id, r.text) for r in make_queries(10, seed=45).itertuples(index=False)]
    run = proximity_topk(spark, tables, queries, k=10, ordered=ordered)
    got = {}
    for r in run.collect():
        got.setdefault(r.query_id, []).append((r.doc_id, r.score))

    idf = {t: oracle.idf(t) for t in oracle.df}
    for qid, text in queries:
        q_toks = code_tokenize(text)
        scores = []
        for did, d_toks in docs:
            s = naive_close_pair_score(q_toks, d_toks, idf, oracle.avg_doc_len, 4, 8, ordered)
            if s > 0:
                scores.append((did, s))
        scores.sort(key=lambda h: h[0], reverse=True)
        scores.sort(key=lambda h: h[1], reverse=True)
        want = scores[:10]
        have = got.get(qid, [])
        assert len(have) == len(want), (qid, have, want)
        for (gd, gs), (wd, ws) in zip(have, want):
            assert gd == wd, (qid, have, want)
            assert abs(gs - ws) < 1e-9 * max(1.0, abs(ws))


def test_default_build_is_positional(spark, setup, tmp_path_factory):
    """The fwd table always stores the token sequence (parsedText mode) —
    proximity scoring works on a default build with no special flag."""
    corpus = make_corpus(n_docs=50, seed=42)
    idx = str(tmp_path_factory.mktemp("noprox_idx"))
    t = build_index(spark, spark.createDataFrame(corpus), idx, num_shards=2)
    run = proximity_topk(spark, t, [("q", "def return")], k=5).collect()
    assert len(run) > 0


@pytest.mark.parametrize("ordered", [True, False])
def test_index_path_equals_feature_path(spark, setup, ordered):
    """One close-pair core: proximity_topk over an index equals the
    close_pair feature over that index's forward tokens, ranked with the
    shared run tail — same ids and ranks, scores within rel 1e-12."""
    from flexneuart_spark.io.trec import rank_run
    from flexneuart_spark.operators.features import extract_features

    tables, _, _ = setup
    queries = [(r.query_id, r.text) for r in make_queries(10, seed=45).itertuples(index=False)]
    run = proximity_topk(spark, tables, queries, k=10, ordered=ordered)
    q_tok = spark.createDataFrame(
        [(qid, code_tokenize(text)) for qid, text in queries], "query_id string, tokens array<string>"
    )
    feats = extract_features(
        tables.fwd(spark).select("doc_id", "tokens"),
        q_tok,
        [{"name": "score", "feature": "close_pair", "ordered": ordered}],
    )
    got = sorted((r.query_id, r.rank, r.doc_id, r.score) for r in run.collect())
    want = sorted((r.query_id, r.rank, r.doc_id, r.score) for r in rank_run(feats, 10).collect())
    assert len(got) == len(want) > 0
    for g, w in zip(got, want):
        assert g[:3] == w[:3], (g, w)
        assert g[3] == pytest.approx(w[3], rel=1e-12)


def test_proximity_tokenizes_queries_like_the_index(spark, tmp_path):
    """On a Krovetz-built index the query "joins tables" looks up the
    stems join/table: scores equal the naive oracle over Krovetz tokens."""
    from flexneuart_spark.functions.tokenize import krovetz_tokenize

    texts = {
        "d1": "The tables join quickly when joins use tables",
        "d2": "a table joined to another table by joins",
        "d3": "nothing relevant in this one at all",
        "d4": "joins of tables and more tables join",
    }
    corpus = spark.createDataFrame(list(texts.items()), "doc_id string, content string")
    tables = build_index(spark, corpus, str(tmp_path / "kidx"), num_shards=2, tokenizer="krovetz")
    queries = [("q1", "joins tables"), ("q2", "Tables joined quickly")]
    docs = {did: krovetz_tokenize(text) for did, text in texts.items()}
    oracle = Bm25Oracle(list(docs.items()))
    idf = {t: oracle.idf(t) for t in oracle.df}
    for ordered in (True, False):
        run = proximity_topk(spark, tables, queries, k=10, ordered=ordered)
        got = {(r.query_id, r.doc_id): r.score for r in run.collect()}
        want = {}
        for qid, text in queries:
            for did, d_toks in docs.items():
                s = naive_close_pair_score(
                    krovetz_tokenize(text), d_toks, idf, oracle.avg_doc_len, 4, 8, ordered
                )
                if s > 0:
                    want[(qid, did)] = s
        assert want and set(got) == set(want), (ordered, got, want)
        for key, s in want.items():
            assert got[key] == pytest.approx(s, rel=1e-9)


@pytest.fixture(scope="module")
def unknown_tokenizer_index(spark, tmp_path_factory):
    """A small index whose ``corpus_stats`` records a tokenizer name this
    version has no tokenizer of (an index from another version, say)."""
    idx = str(tmp_path_factory.mktemp("prox_unknown_tok_idx"))
    tables = build_index(spark, spark.createDataFrame(make_corpus(n_docs=20, seed=42)), idx, num_shards=2)
    stats = tables.corpus_stats(spark).toPandas().assign(tokenizer="no_such_tokenizer")
    spark.createDataFrame(stats).coalesce(1).write.mode("overwrite").parquet(tables.corpus_stats_dir)
    return tables


def _stats_read_jobs(spark, tables, group):
    """Number of Spark jobs reading ``tables``' recorded stats takes."""
    from flexneuart_spark.index.builder import merged_stats

    sc = spark.sparkContext
    sc.setJobGroup(group, "stats read")
    try:
        with pytest.raises(ValueError, match="unknown tokenizer 'no_such_tokenizer'"):
            merged_stats(spark, [tables])
        return len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_proximity_rejects_unknown_tokenizer(spark, unknown_tokenizer_index):
    """An unknown tokenizer name recorded in the index raises ValueError
    before any Spark job beyond reading the recorded stats runs."""
    tables = unknown_tokenizer_index
    stats_jobs = _stats_read_jobs(spark, tables, "prox_unknown_tokenizer_stats")
    sc = spark.sparkContext
    sc.setJobGroup("prox_unknown_tokenizer", "unknown tokenizer")
    try:
        with pytest.raises(ValueError, match="unknown tokenizer 'no_such_tokenizer'"):
            proximity_topk(spark, tables, [("q", "def return")])
        assert len(sc.statusTracker().getJobIdsForGroup("prox_unknown_tokenizer")) == stats_jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_searchers_reject_unknown_tokenizer(spark, unknown_tokenizer_index):
    """``Searcher`` — and ``sdm_topk``, which builds one first — raise
    ValueError for an unknown tokenizer name recorded in the index before
    any Spark job beyond reading the recorded stats runs."""
    from flexneuart_spark.search.engine import Searcher
    from flexneuart_spark.search.proximity import sdm_topk

    tables = unknown_tokenizer_index
    stats_jobs = _stats_read_jobs(spark, tables, "searcher_unknown_tokenizer_stats")
    sc = spark.sparkContext
    for name, call in (
        ("searcher", lambda: Searcher(spark, tables)),
        ("sdm", lambda: sdm_topk(spark, tables, [("q", "def return")])),
    ):
        group = f"{name}_unknown_tokenizer"
        sc.setJobGroup(group, "unknown tokenizer")
        try:
            with pytest.raises(ValueError, match="unknown tokenizer 'no_such_tokenizer'"):
                call()
            assert len(sc.statusTracker().getJobIdsForGroup(group)) == stats_jobs, name
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
