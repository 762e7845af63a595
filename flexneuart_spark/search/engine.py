"""Distributed BM25 top-k query engine over the sharded inverted index.

Spark restatement of the reference's batch retrieval path
(``apps/BaseQueryApp.java:653-741`` + ``LuceneCandidateProvider.java:103-178``;
SURVEY.md §3.2): the per-query thread pool becomes shard-parallel tasks;
the whole query batch is evaluated in ONE pass over the index.

A searcher reads a set of independently-built index segments (the
incremental-ingest layout, flexneuart_spark.streaming); ``Searcher`` is
the one-segment case of ``SegmentedSearcher``. Corpus stats and df are
merged exactly across segments, so scores are identical to a single
monolithic build — possible because posting payloads carry raw (tf, dl)
and block metadata is avgdl-independent.

Physical plan:
  1. queries tokenized driver-side with the tokenizer the index records
     (the reference also loads all queries into memory —
     ``BaseQueryApp.java:670``); the query vocabulary's
     (term, df) rows are read from every segment's dictionary in one
     multi-path scan, summed driver-side into the global df and turned
     into idf with the builder's finalize formula — no shuffle, and only
     the query slice of the dictionary is ever collected (10^12-file
     posture, SURVEY.md §7.4);
  2. ``postings.filter(term IN query_vocab OR term IS NULL)`` over the
     postings unioned with one doc-id row per (seg, shard) — partition
     keys + parquet row-group stats (postings are written sorted by term
     within shard) prune the scan to the query's posting rows, plus each
     shard's doc-id row (null ``term``; its ``doc_ids`` array holds the
     shard's doc ids ordered by ``ord``);
  3. ``groupBy(seg, shard).applyInArrow`` → numpy MaxScore/block-max
     kernel with a bounded heap per (shard, query), labelled in the same
     task by a pyarrow ``take`` of the kernel's ordinals on that array →
     ≤ k (query_id, doc_id, score) rows per seg·shard·query. The lookup
     relies on the builder's dense per-shard ordinals (``row_number − 1``
     over (shard, doc_id), ``index/builder.py``): ``ord`` is the array
     position;
  4. global top-k merge: ``rank_run``'s window by query, (score desc,
     doc_id desc) — the only exchange after the kernel.

``warm()`` caches that union — postings and doc-id rows, with their
``seg`` column — hash-partitioned by shard, so the per-query groupBy
needs no exchange: a warmed query is one scan-label-and-score stage over
the one cache, then the merge.
"""

from __future__ import annotations

from collections import Counter
from functools import reduce

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flexneuart_spark.config import BM25_B, BM25_K1
from flexneuart_spark.functions.tokenize import TOKENIZERS
from flexneuart_spark.index.builder import SMALL_VOCAB, IndexTables, bm25_idf, merged_stats
from flexneuart_spark.io.trec import rank_run
from flexneuart_spark.search.scoring import TermPostings, bmw_topk, exhaustive_topk, maxscore_topk

# result-identical top-k kernels (equivalence-tested); maxscore is the default
_KERNELS = {"maxscore": maxscore_topk, "bmw": bmw_topk, "exhaustive": exhaustive_topk}

_BLOCK_COLS = ("block_off", "block_n", "block_max_doc", "block_max_tf", "block_min_dl")
_EMPTY_RUN_SCHEMA = "query_id string, doc_id string, score double, rank int"


def _search_frames(
    spark: SparkSession,
    posts: DataFrame,
    idf: dict[str, float],
    avgdl: float,
    qtf: dict[str, dict[str, int]],
    k: int,
    k1: float,
    b: float,
    kernel,
) -> DataFrame:
    """Core search over generic frames. ``posts`` must carry (seg, shard,
    term, payload, block_*, doc_ids): posting rows plus one null-``term``
    row per (seg, shard) whose ``doc_ids`` is the shard's doc ids ordered
    by ``ord``. ``kernel`` is one of the result-identical scoring kernels
    in ``_KERNELS``."""
    qweights = {
        qid: {t: c * idf[t] * (k1 + 1.0) for t, c in d.items() if t in idf}
        for qid, d in qtf.items()
    }
    qweights = {qid: d for qid, d in qweights.items() if d}
    if not qweights:
        return spark.createDataFrame([], _EMPTY_RUN_SCHEMA)

    def score_shard(tbl: pa.Table) -> pa.Table:
        tbl = tbl.combine_chunks()
        doc_ids = tbl.filter(pc.is_null(tbl.column("term"))).column("doc_ids")[0].values
        posts = tbl.filter(pc.is_valid(tbl.column("term")))
        terms, payloads = posts.column("term").to_pylist(), posts.column("payload").to_pylist()
        blocks = [posts.column(c) for c in _BLOCK_COLS]
        by_term = {t: (payloads[i], *(c[i].values.to_numpy() for c in blocks)) for i, t in enumerate(terms)}
        out_q, out_o, out_s = [], [], []
        for qid, wts in qweights.items():
            entries = [TermPostings(*r, w) for t, w in wts.items() if (r := by_term.get(t)) is not None]
            if not entries:
                continue
            ords, scores = kernel(entries, k, avgdl, k1, b)
            out_q.extend([qid] * len(ords))
            out_o.append(ords)
            out_s.append(scores)
        ords = np.concatenate(out_o) if out_o else np.empty(0, np.int64)
        return pa.table(
            {
                "query_id": pa.array(out_q, pa.string()),
                "doc_id": doc_ids.take(pa.array(ords, pa.int64())),
                "score": pa.array(np.concatenate(out_s) if out_s else [], pa.float64()),
            }
        )

    cols = ["seg", "shard", "term", "payload", *_BLOCK_COLS, "doc_ids"]
    scored = posts.select(*cols).groupBy("seg", "shard").applyInArrow(
        score_shard, "query_id string, doc_id string, score double"
    )
    return rank_run(scored, k)


class SegmentedSearcher:
    """Search across N independently-built segments (incremental layout:
    ``root/segments/<id>/`` each a full IndexTables). Global df/N/avgdl
    are exact merges, so results are identical to a monolithic build.
    Queries are tokenized with the tokenizer the segments record;
    segments built with different ones raise ``ValueError``."""

    def __init__(
        self,
        spark: SparkSession,
        segments: list[IndexTables | str],
        k1: float = BM25_K1,
        b: float = BM25_B,
    ):
        if not segments:
            raise ValueError("no segments")
        self.spark = spark
        self.segments = sorted(
            (IndexTables(s) if isinstance(s, str) else s for s in segments),
            key=lambda t: t.index_dir,
        )
        self.k1, self.b = k1, b
        self.n_docs, self.avgdl, tokenizer = merged_stats(spark, self.segments)
        self.tokenize = TOKENIZERS[tokenizer]
        self._posts: DataFrame | None = None
        self._idf_cache: dict[str, float] | None = None

    def _union(self, read) -> DataFrame:
        """``read(tables)`` of every segment, tagged with its ``seg`` number."""
        return reduce(
            DataFrame.unionByName,
            [read(t).withColumn("seg", F.lit(i)) for i, t in enumerate(self.segments)],
        )

    def _read_postings(self) -> DataFrame:
        """Every segment's postings plus, per (seg, shard), one row with a
        null ``term`` whose ``doc_ids`` holds the shard's doc ids ordered
        by ``ord`` — the array the kernel labels its ordinals from."""

        def read(t: IndexTables) -> DataFrame:
            ids = t.fwd(self.spark).groupBy("shard").agg(
                F.sort_array(F.collect_list(F.struct("ord", "doc_id"))).getField("doc_id").alias("doc_ids")
            )
            return t.postings(self.spark).unionByName(ids, allowMissingColumns=True)

        return self._union(read)

    def _read_term_df(self) -> DataFrame:
        """Every segment's (term, df) dictionary rows, in ONE multi-path read."""
        return self.spark.read.parquet(*[t.dictionary_dir for t in self.segments]).select("term", "df")

    def _global_idf(self, term_df) -> dict[str, float]:
        """idf from per-segment (term, df) rows: df summed over segments
        driver-side, then the builder's finalize formula."""
        df: Counter = Counter()
        for term, n in term_df:
            df[term] += int(n)
        idf = bm25_idf(self.n_docs, np.fromiter(df.values(), dtype=np.float64, count=len(df)))
        return dict(zip(df, idf.tolist()))

    def warm(self) -> "SegmentedSearcher":
        """Pin the postings AND each (seg, shard)'s doc-id row (see
        ``_read_postings``) in executor memory as one cache and, when the
        segments' dictionaries hold at most ``SMALL_VOCAB`` rows (the
        builder's driver-side finalize bound), cache term→idf
        driver-side — repeated searches then skip the per-query metadata
        job and the parquet listing/scan (the reference holds its whole
        index + idf cache in memory for the batch too,
        TFIDFSimilarity.java:48-58; Lucene relies on the OS page cache).
        Re-warming releases the previous cache (safe after the index was
        rebuilt)."""
        if self._posts is not None:
            self._posts.unpersist()
        # cache the union ALREADY hash-partitioned by shard: the per-query
        # groupBy(seg, shard) then needs no exchange — scoring and doc-id
        # labelling run as one scan-and-score stage over the cache.
        # fewer, bigger cache partitions = fewer task round trips per
        # query (the p50 floor is task scheduling, not compute); 16 still
        # saturates the batch path, whose kernel loops all queries per task
        npart = min(16, self.spark.sparkContext.defaultParallelism)
        self._posts = self._read_postings().repartition(npart, "shard").persist()
        self._posts.count()
        head = self._read_term_df().limit(SMALL_VOCAB + 1).collect()
        self._idf_cache = self._global_idf(head) if len(head) <= SMALL_VOCAB else None
        return self

    def _prep(self, queries: list[tuple[str, str]]) -> tuple[dict[str, dict[str, int]], dict[str, float]]:
        """Query prep shared by every search: tokenize → per-query term
        counts → vocabulary → global idf of the vocabulary's indexed terms."""
        qtoks = {qid: self.tokenize(text) for qid, text in queries}
        # empty queries drop out (LuceneCandidateProvider.java:125-126)
        qtf = {qid: dict(Counter(toks)) for qid, toks in qtoks.items() if toks}
        vocab = sorted({t for d in qtf.values() for t in d})
        if not vocab:
            return qtf, {}
        if self._idf_cache is not None:
            return qtf, {t: self._idf_cache[t] for t in vocab if t in self._idf_cache}
        return qtf, self._global_idf(self._read_term_df().filter(F.col("term").isin(vocab)).collect())

    def search(
        self,
        queries: list[tuple[str, str]],
        k: int = 10,
        kernel: str = "maxscore",
    ) -> DataFrame:
        """queries: [(query_id, text)] → run DataFrame
        (query_id, doc_id, score, rank) under the reference tie rule.

        ``kernel`` picks the per-shard top-k kernel by name
        ("maxscore" | "bmw" | "exhaustive" — result-identical,
        equivalence-tested)."""
        if kernel not in _KERNELS:
            raise ValueError(f"unknown kernel {kernel!r}; expected one of {sorted(_KERNELS)}")
        qtf, idf = self._prep(queries)
        if not idf:
            return self.spark.createDataFrame([], _EMPTY_RUN_SCHEMA)
        posts = self._posts if self._posts is not None else self._read_postings()
        return _search_frames(
            self.spark, posts.filter(F.col("term").isin(sorted(idf)) | F.col("term").isNull()),
            idf, self.avgdl, qtf, k, self.k1, self.b, _KERNELS[kernel],
        )


class Searcher(SegmentedSearcher):
    """BM25 top-k over one index: the single-segment SegmentedSearcher."""

    def __init__(
        self,
        spark: SparkSession,
        index: IndexTables | str,
        k1: float = BM25_K1,
        b: float = BM25_B,
    ):
        super().__init__(spark, [index], k1, b)
        self.tables = self.segments[0]
