"""Incremental index ingest via Structured Streaming.

The reference is strictly batch (SURVEY.md §2.10); its closest feature is
the append-only forward-index mode (``ForwardIndex.java:89-100``, README
"append-only mode"). This module is the Spark-native upgrade: new
documents arrive as a stream; each micro-batch is built into an
independent, fully-consistent index *segment* (the Lucene segment model)
using the SAME builder as batch mode — per-segment lineage, sha256
invariants, and resume semantics carry over unchanged.

Query-time, ``SegmentedSearcher`` merges segments with EXACT global
statistics (df summed, avgdl recomputed from totals), so incremental
results are score-identical to a monolithic rebuild (tested). Posting
payloads carry raw (tf, doc_len) and block-max metadata is
avgdl-independent precisely so that late segments can shift global stats
without invalidating earlier segments.

Segment compaction (merging many small segments into one) is the same
``build_index`` call over the union of their forward indexes — ordinals
are reassigned per shard; nothing else changes.
"""

from __future__ import annotations

import glob
from functools import reduce

from pyspark.sql import DataFrame, SparkSession

from flexneuart_spark.config import DEFAULT_NUM_SHARDS
from flexneuart_spark.index.builder import IndexTables, build_index, merged_stats


def list_segments(root: str) -> list[str]:
    return sorted(glob.glob(f"{root}/segments/*"))


def start_incremental_index(
    spark: SparkSession,
    stream_df: DataFrame,
    root: str,
    checkpoint_dir: str,
    num_shards: int = DEFAULT_NUM_SHARDS,
    tokenizer: str = "code",
):
    """Start a streaming query that turns each micro-batch into an index
    segment under ``root/segments/<batch_id>``.

    ``foreachBatch`` gives exactly-once segment creation: the checkpoint
    records committed batch ids, and a re-delivered batch overwrites its
    own segment directory idempotently (same batch_id → same path →
    dynamic-overwrite build)."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        seg_dir = f"{root}/segments/{batch_id:06d}"
        build_index(
            batch_df.sparkSession,
            batch_df,
            seg_dir,
            num_shards=num_shards,
            tokenizer=tokenizer,
        )

    return (
        stream_df.writeStream.option("checkpointLocation", checkpoint_dir)
        .foreachBatch(handle)
        .trigger(availableNow=True)
        .start()
    )


def compact_segments(
    spark: SparkSession,
    root: str,
    out_dir: str,
    segment_dirs: list[str] | None = None,
    num_shards: int | None = None,
    resume: bool = False,
    only_shards: list[int] | None = None,
):
    """Merge segments into ONE index (the Lucene merge analogue) WITHOUT
    re-tokenizing: reads the segments' stored forward indexes (token
    sequences + sha256) and rebuilds via ``build_index(pretokenized=True)``
    — ordinals are reassigned per shard, postings re-encoded, global
    stats recomputed from scratch, so the compacted index is
    score-identical to a monolithic build over the union corpus (tested).

    Cost: the postings kernel + one shuffle — the tokenizer pass (the
    other large cost at build time) is skipped entirely. Returns the new
    ``IndexTables``; the caller swaps it in and deletes old segments.

    Crash-resume: compaction writes to a FRESH ``out_dir`` while the
    source segments stay untouched and fully queryable, so an interrupted
    compaction loses no data — re-running with ``resume=True`` reuses the
    builder's per-shard lineage checkpoint (completed shards are skipped,
    the rest rebuilt; ``index/builder.py`` resume semantics, tested in
    ``test_resume.py``). ``only_shards`` restricts the build to a shard
    subset — the test hook that simulates the mid-write crash.

    The segments must record one tokenizer (``ValueError`` naming each
    segment's otherwise); the compacted index records it too."""
    segs = segment_dirs if segment_dirs is not None else list_segments(root)
    if not segs:
        raise ValueError(f"no segments under {root}")
    tables = [IndexTables(seg) for seg in segs]
    tokenizer = merged_stats(spark, tables)[2]
    union = reduce(
        DataFrame.unionByName,
        [t.fwd(spark).select("doc_id", "tokens", "content_sha256") for t in tables],
    )
    return build_index(
        spark,
        union,
        out_dir,
        pretokenized=True,
        tokenizer=tokenizer,
        num_shards=num_shards if num_shards is not None else DEFAULT_NUM_SHARDS,
        resume=resume,
        only_shards=only_shards,
    )
