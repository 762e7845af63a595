"""Checkpoint-resume (FIXTURES.md §6): a build interrupted after a subset
of shards, then resumed, must produce an index logically identical to a
one-shot build — no double-counted df/avgdl, identical golden run."""

from __future__ import annotations

from pathlib import Path

import pytest

from flexneuart_spark.fixtures import make_corpus, make_queries
from flexneuart_spark.index.builder import build_index
from flexneuart_spark.search.engine import Searcher

NSHARDS = 8


@pytest.fixture(scope="module")
def corpora(spark):
    corpus = make_corpus(n_docs=250, seed=42)
    return spark.createDataFrame(corpus)


def _table_set(spark, tables, name):
    df = getattr(tables, name)(spark)
    cols = sorted(df.columns)
    return {tuple(str(r[c]) for c in cols) for r in df.collect()}


def test_resume_equals_full_build(spark, corpora, tmp_path_factory):
    full_dir = str(tmp_path_factory.mktemp("full"))
    part_dir = str(tmp_path_factory.mktemp("part"))

    full = build_index(spark, corpora, full_dir, num_shards=NSHARDS)
    # interrupted build: only shards 0..2 complete
    build_index(spark, corpora, part_dir, num_shards=NSHARDS, only_shards=[0, 1, 2])
    resumed = build_index(spark, corpora, part_dir, num_shards=NSHARDS, resume=True)

    # corpus stats identical (no double counting)
    assert full.stats(spark) == resumed.stats(spark)
    # dictionary identical (term, term_id, df, idf)
    assert _table_set(spark, full, "dictionary") == _table_set(spark, resumed, "dictionary")
    # forward index identical
    assert _table_set(spark, full, "fwd") == _table_set(spark, resumed, "fwd")
    # postings identical (payload bytes compare via str of bytearray)
    assert _table_set(spark, full, "postings") == _table_set(spark, resumed, "postings")

    # lineage: every shard exactly once in the resumed build
    lin = resumed.lineage(spark).groupBy("shard").count().collect()
    assert sorted((r.shard, r["count"]) for r in lin) == [(s, 1) for s in range(NSHARDS)]

    # identical golden run
    queries = [(r.query_id, r.text) for r in make_queries(10, seed=43).itertuples(index=False)]
    run_a = Searcher(spark, full).search(queries, k=10).collect()
    run_b = Searcher(spark, resumed).search(queries, k=10).collect()
    key = lambda r: (r.query_id, r.rank)
    assert sorted([(r.query_id, r.rank, r.doc_id, round(r.score, 9)) for r in run_a]) == sorted(
        [(r.query_id, r.rank, r.doc_id, round(r.score, 9)) for r in run_b]
    )


def test_interrupted_index_is_partial_but_consistent(spark, corpora, tmp_path_factory):
    part_dir = str(tmp_path_factory.mktemp("part2"))
    t = build_index(spark, corpora, part_dir, num_shards=NSHARDS, only_shards=[0, 1])
    # stats reflect only the built shards; finalize is internally consistent
    n_docs, total, avgdl = t.stats(spark)
    assert 0 < n_docs < 250
    shards = {r.shard for r in t.fwd(spark).select("shard").distinct().collect()}
    assert shards == {0, 1}


def test_resume_over_corrupt_lineage_raises(spark, corpora, tmp_path_factory):
    """A lineage table that exists but cannot be read fails the resume
    loudly instead of looking absent (which would rebuild every shard)."""
    idx = str(tmp_path_factory.mktemp("corrupt_lineage"))
    tables = build_index(spark, corpora, idx, num_shards=NSHARDS, only_shards=[0, 1])
    lineage = Path(tables.lineage_dir)
    for f in lineage.glob("*.parquet"):
        f.write_bytes(b"not a parquet file")
    with pytest.raises(Exception, match="(?i)parquet"):
        build_index(spark, corpora, idx, num_shards=NSHARDS, resume=True)
