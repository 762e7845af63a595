"""Incremental (Structured Streaming) ingest: segments built per
micro-batch must search score-identically to one monolithic build."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from flexneuart_spark.fixtures import make_corpus, make_queries
from flexneuart_spark.index.builder import build_index
from flexneuart_spark.search.engine import SegmentedSearcher, Searcher
from flexneuart_spark.streaming.incremental import list_segments, start_incremental_index

SCHEMA = "repo string, path string, commit string, lang string, content string"


def test_streaming_segments_match_monolithic(spark, tmp_path):
    corpus = make_corpus(n_docs=240, seed=42)
    # two input files → maxFilesPerTrigger=1 → two micro-batches/segments
    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(pa.Table.from_pandas(corpus.iloc[:120]), str(src / "a.parquet"))
    pq.write_table(pa.Table.from_pandas(corpus.iloc[120:]), str(src / "b.parquet"))

    root = str(tmp_path / "inc_idx")
    stream = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(str(src))
    )
    q = start_incremental_index(
        spark, stream, root, str(tmp_path / "ckpt"), num_shards=4, tokenizer="code"
    )
    q.awaitTermination(300)
    segs = list_segments(root)
    assert len(segs) == 2, segs

    mono_dir = str(tmp_path / "mono_idx")
    mono = build_index(spark, spark.createDataFrame(corpus), mono_dir, num_shards=4)

    seg_search = SegmentedSearcher(spark, segs)
    mono_search = Searcher(spark, mono)
    assert seg_search.n_docs == mono_search.n_docs == 240
    assert seg_search.avgdl == pytest.approx(mono_search.avgdl, rel=1e-12)

    queries = [(r.query_id, r.text) for r in make_queries(12, seed=43).itertuples(index=False)]
    a = {
        (r.query_id, r.rank): (r.doc_id, round(r.score, 9))
        for r in seg_search.search(queries, k=10).collect()
    }
    b = {
        (r.query_id, r.rank): (r.doc_id, round(r.score, 9))
        for r in mono_search.search(queries, k=10).collect()
    }
    assert set(a) == set(b)
    for key in a:
        assert a[key][0] == b[key][0], (key, a[key], b[key])
        assert abs(a[key][1] - b[key][1]) < 1e-6


def test_compact_segments_matches_monolithic(spark, tmp_path):
    from flexneuart_spark.streaming.incremental import compact_segments

    corpus = make_corpus(n_docs=200, seed=7)
    root = str(tmp_path / "root")
    # two directly-built segments (same layout the stream produces)
    for i, sl in enumerate((corpus.iloc[:100], corpus.iloc[100:])):
        build_index(spark, spark.createDataFrame(sl), f"{root}/segments/{i:06d}", num_shards=4)

    compacted = compact_segments(spark, root, str(tmp_path / "compacted"), num_shards=4)
    mono = build_index(spark, spark.createDataFrame(corpus), str(tmp_path / "mono"), num_shards=4)

    cs, ms = Searcher(spark, compacted), Searcher(spark, mono)
    assert cs.n_docs == ms.n_docs == 200
    assert cs.avgdl == pytest.approx(ms.avgdl, rel=1e-12)
    queries = [(r.query_id, r.text) for r in make_queries(8, seed=9).itertuples(index=False) if r.text]
    got = sorted(map(tuple, cs.search(queries, k=10).collect()))
    want = sorted(map(tuple, ms.search(queries, k=10).collect()))
    assert got == want  # compaction is score- and rank-identical
    # sha256 invariant survives compaction (north rule: per-row content sha)
    sha_c = {r.doc_id: r.content_sha256 for r in compacted.docmap(spark).collect()}
    sha_m = {r.doc_id: r.content_sha256 for r in mono.docmap(spark).collect()}
    assert sha_c == sha_m


def test_segmented_metadata_reads_are_batched(spark, tmp_path, monkeypatch):
    """With 20 segments, SegmentedSearcher must do O(1) driver
    round-trips: ONE multi-path stats collect at init and ONE merged
    dictionary collect per search() — not one per segment."""
    from pyspark.sql.classic.dataframe import DataFrame as CDF

    corpus = make_corpus(n_docs=200, seed=42)
    segs = []
    for i in range(20):
        d = str(tmp_path / f"seg{i:02d}")
        build_index(
            spark, spark.createDataFrame(corpus.iloc[i * 10 : (i + 1) * 10]), d, num_shards=2
        )
        segs.append(d)

    calls: list[int] = []
    orig = CDF.collect
    monkeypatch.setattr(CDF, "collect", lambda self: (calls.append(1), orig(self))[1])

    s = SegmentedSearcher(spark, segs)
    assert len(calls) == 1, f"init did {len(calls)} collects for 20 segments"
    assert s.n_docs == 200
    run = s.search([("q1", "def return class"), ("q2", "import numpy")], k=5)
    assert len(calls) == 2, f"search did {len(calls) - 1} metadata collects"
    rows = run.collect()
    assert rows and all(r.rank >= 1 for r in rows)


def test_compact_segments_crash_resume(spark, tmp_path):
    """A compaction interrupted mid-write (simulated with only_shards, the
    builder's crash hook) must (a) leave the source segments untouched
    and queryable and (b) complete under resume=True, producing an index
    identical to an uninterrupted compaction."""
    from flexneuart_spark.streaming.incremental import compact_segments

    corpus = make_corpus(n_docs=240, seed=11)
    root = str(tmp_path / "root")
    for i, sl in enumerate((corpus.iloc[:120], corpus.iloc[120:])):
        build_index(spark, spark.createDataFrame(sl), f"{root}/segments/{i:06d}", num_shards=4)
    queries = [(r.query_id, r.text) for r in make_queries(6, seed=3).itertuples(index=False) if r.text]
    seg_before = sorted(
        map(tuple, SegmentedSearcher(spark, [f"{root}/segments/{i:06d}" for i in (0, 1)])
            .search(queries, k=10).collect())
    )

    # interrupted compaction: only 2 of 4 shards complete
    out = str(tmp_path / "compacted")
    compact_segments(spark, root, out, num_shards=4, only_shards=[0, 1])
    # the segments are still the source of truth and still answer queries
    still = sorted(
        map(tuple, SegmentedSearcher(spark, [f"{root}/segments/{i:06d}" for i in (0, 1)])
            .search(queries, k=10).collect())
    )
    assert still == seg_before

    # resume completes the remaining shards only
    t = compact_segments(spark, root, out, num_shards=4, resume=True)
    done_shards = {int(r.shard) for r in t.lineage(spark).select("shard").collect()}
    assert done_shards == {0, 1, 2, 3}

    clean = compact_segments(spark, root, str(tmp_path / "clean"), num_shards=4)
    rs, cs = Searcher(spark, t), Searcher(spark, clean)
    assert rs.n_docs == cs.n_docs == 240
    got = sorted(map(tuple, rs.search(queries, k=10).collect()))
    want = sorted(map(tuple, cs.search(queries, k=10).collect()))
    assert got == want
    sha_r = {r.doc_id: r.content_sha256 for r in t.docmap(spark).collect()}
    sha_c = {r.doc_id: r.content_sha256 for r in clean.docmap(spark).collect()}
    assert sha_r == sha_c


def test_segment_lifecycle_invariant_on_bench_corpus(spark, tmp_path):
    """Entry-level lifecycle invariant on the bench corpus shape
    (make_corpus_scaled — realistic source-file sizes): for every query,
    SegmentedSearcher over the pre-compaction segments and Searcher over
    the compacted index return IDENTICAL (doc_id, rank, score) rows."""
    from flexneuart_spark.fixtures import make_corpus_scaled
    from flexneuart_spark.streaming.incremental import compact_segments

    corpus = make_corpus_scaled(600, seed=42)
    root = str(tmp_path / "root")
    cuts = (0, 200, 450, 600)  # three uneven segments
    for i in range(3):
        build_index(
            spark,
            spark.createDataFrame(corpus.iloc[cuts[i]:cuts[i + 1]]),
            f"{root}/segments/{i:06d}",
            num_shards=4,
        )
    compacted = compact_segments(spark, root, str(tmp_path / "compacted"), num_shards=8)

    seg = SegmentedSearcher(spark, [f"{root}/segments/{i:06d}" for i in range(3)])
    mono = Searcher(spark, compacted)
    assert seg.n_docs == mono.n_docs == 600
    assert seg.avgdl == pytest.approx(mono.avgdl, rel=1e-12)
    queries = [(r.query_id, r.text) for r in make_queries(12, seed=5).itertuples(index=False) if r.text]
    before = {(r.query_id, r.rank): (r.doc_id, r.score) for r in seg.search(queries, k=10).collect()}
    after = {(r.query_id, r.rank): (r.doc_id, r.score) for r in mono.search(queries, k=10).collect()}
    assert set(before) == set(after)
    for key in before:
        # doc ids and ranks identical; scores to 1-ulp (summation order
        # differs between the 4-shard segments and the 8-shard compacted
        # index — the documented MaxScore float-order property)
        assert before[key][0] == after[key][0], (key, before[key], after[key])
        assert before[key][1] == pytest.approx(after[key][1], rel=1e-9)


def _ws_docs(n: int, offset: int = 0) -> list[tuple[str, str]]:
    """Docs whose whitespace and code tokens differ (``hashJoin`` is one
    whitespace token, two code tokens); every doc has its own length, so
    no two scores tie."""
    words = ["hashJoin", "scan_filter", "hash", "join", "scan", "filter"]
    return [
        (
            f"d{i + offset:03d}",
            " ".join([words[i % 6]] * (1 + i % 3) + [words[(i + 2) % 6]] + [f"w{j}" for j in range(i)]),
        )
        for i in range(n)
    ]


def test_segments_with_different_tokenizers_raise(spark, tmp_path):
    """A code-built and a whitespace-built segment cannot be searched or
    compacted together: their df would not add up."""
    from flexneuart_spark.streaming.incremental import compact_segments

    segs = []
    for i, tok in enumerate(("code", "whitespace")):
        d = str(tmp_path / f"segments/{i:06d}")
        docs = spark.createDataFrame(_ws_docs(6, offset=10 * i), "doc_id string, content string")
        build_index(spark, docs, d, num_shards=2, tokenizer=tok)
        segs.append(d)
    with pytest.raises(ValueError, match="different tokenizers.*code.*whitespace"):
        SegmentedSearcher(spark, segs)
    with pytest.raises(ValueError, match="different tokenizers"):
        compact_segments(spark, str(tmp_path), str(tmp_path / "compacted"), num_shards=2)


def test_compaction_keeps_the_tokenizer(spark, tmp_path):
    """Compacted whitespace-built segments still tokenize queries on
    whitespace: the run equals the relational BM25 over the whitespace
    tokens of the union corpus (an independent implementation)."""
    from flexneuart_spark.search.bm25 import bm25_topk_relational, tokens_df
    from flexneuart_spark.streaming.incremental import compact_segments

    docs = _ws_docs(24)
    root = str(tmp_path / "root")
    for i, part in enumerate((docs[:12], docs[12:])):
        build_index(
            spark, spark.createDataFrame(part, "doc_id string, content string"),
            f"{root}/segments/{i:06d}", num_shards=2, tokenizer="whitespace",
        )
    compacted = compact_segments(spark, root, str(tmp_path / "compacted"), num_shards=2)
    assert compacted.corpus_stats(spark).first().tokenizer == "whitespace"

    queries = [("q1", "hashJoin"), ("q2", "scan_filter hashJoin"), ("q3", "scan_filter join")]
    run = Searcher(spark, compacted).search(queries, k=5)
    got = {(r.query_id, r.rank): (r.doc_id, r.score) for r in run.collect()}
    want_df = bm25_topk_relational(
        tokens_df(spark.createDataFrame(docs, "doc_id string, content string"), "content", "doc_id", "whitespace"),
        tokens_df(spark.createDataFrame(queries, "query_id string, text string"), "text", "query_id", "whitespace"),
        k=5,
    )
    want = {(r.query_id, r.rank): (r.doc_id, r.score) for r in want_df.collect()}
    assert got.keys() == want.keys() and len(want) == 15
    for key in want:
        assert got[key][0] == want[key][0], (key, got[key], want[key])
        assert got[key][1] == pytest.approx(want[key][1], abs=1e-9)
