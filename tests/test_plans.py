"""Physical-plan assertions: the scale-critical properties must be
visible in the executed plan, not just hoped for (SURVEY.md §4)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flexneuart_spark.fixtures import make_corpus
from flexneuart_spark.index.builder import build_index


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("plan_idx"))
    return build_index(spark, spark.createDataFrame(make_corpus(150, 42)), idx, num_shards=4)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_postings_scan_prunes_by_term(spark, tables):
    """The query path reads only the query terms' posting rows: the IN
    filter must reach the parquet scan (row-group stats apply because
    postings are written sorted by term within each shard)."""
    posts = tables.postings(spark).filter(F.col("term").isin(["def", "return"]))
    plan = _plan(posts)
    assert "FileScan parquet" in plan
    assert "term" in plan and "IN (def,return)" in plan.replace("\n", " "), plan[:2000]


def test_postings_scan_prunes_columns(spark, tables):
    proj = tables.postings(spark).select("term", "df_shard")
    plan = _plan(proj)
    # payload (the big binary) must NOT be read for a metadata projection
    scan_line = [line for line in plan.splitlines() if "FileScan" in line][0]
    assert "payload" not in scan_line.split("ReadSchema")[-1]


def test_warmed_query_labels_in_kernel_task(spark, tables):
    """A warmed search() labels doc ids inside the kernel task: its plan
    has no broadcast join and reads exactly one cache (postings plus the
    per-shard doc-id rows), and a single query runs 2 jobs — the kernel's
    shuffle-map stage and the merge."""
    from flexneuart_spark.search.engine import Searcher

    searcher = Searcher(spark, tables).warm()
    run = searcher.search([("q", "def return")], k=5)
    plan = _plan(run)
    assert "BroadcastExchange" not in plan and "BroadcastHashJoin" not in plan, plan
    assert plan.count("InMemoryTableScan") == 1, plan
    sc = spark.sparkContext
    sc.setJobGroup("warmed_single_query", "warmed single query")
    try:
        assert run.collect()
        assert len(sc.statusTracker().getJobIdsForGroup("warmed_single_query")) == 2
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_shard_partition_pruning(spark, tables):
    one = tables.fwd(spark).filter(F.col("shard") == 2)
    plan = _plan(one)
    # directory-partitioned by shard → partition filter, not data filter
    assert "PartitionFilters" in plan and "shard" in plan.split("PartitionFilters")[1][:120]


def test_build_is_single_shuffle(spark, tmp_path_factory):
    """The whole index build shuffles exactly once: the post-tokenize
    repartition by shard. Stage 2 consumes the persisted shard-complete
    partitions (InMemoryTableScan), so its plan contains NO new Exchange
    before the kernel."""
    from flexneuart_spark.config import MAX_DOC_SIZE
    from flexneuart_spark.index.builder import (
        _POSTINGS_SCHEMA,
        _arrow_postings_kernel,
        _tokens_udf,
        derive_doc_id,
    )
    from pyspark.sql import Window

    docs = derive_doc_id(spark.createDataFrame(make_corpus(80, 42)))
    docs = docs.withColumn("shard", F.pmod(F.xxhash64("doc_id"), F.lit(4)).cast("int"))
    tok = _tokens_udf("code")
    fwd = (
        docs.withColumn("tokens", tok(F.substring("content", 1, MAX_DOC_SIZE)))
        .withColumn("doc_len", F.size("tokens").cast("long"))
        .withColumn("content_sha256", F.sha2(F.col("content"), 256))
        .select("shard", "doc_id", "tokens", "doc_len", "content_sha256")
        .repartition(4, "shard")
        .sortWithinPartitions("shard", "doc_id")
        .withColumn(
            "ord",
            F.row_number().over(Window.partitionBy("shard").orderBy("doc_id")).cast("long") - 1,
        )
    )
    # stage-1 frame: exactly one exchange (the repartition); the ordinal
    # window adds neither an exchange nor a second sort
    p1 = _plan(fwd)
    assert p1.count("Exchange") == 1, p1
    assert p1.count("Sort ") <= 1, p1

    fwdp = fwd.persist()
    try:
        fwdp.count()
        plist = fwdp.select("shard", "ord", "doc_len", "tokens").groupBy("shard").applyInArrow(
            _arrow_postings_kernel, _POSTINGS_SCHEMA
        )
        p2 = _plan(plist)
        # cached partitioning satisfies the groupBy clustering: no exchange
        # ABOVE the cache scan (the InMemoryRelation's own description
        # embeds the original stage-1 exchange — that one already ran)
        assert "InMemoryTableScan" in p2, p2
        above_cache = p2.split("InMemoryTableScan")[0]
        assert "Exchange" not in above_cache, p2
    finally:
        fwdp.unpersist()


def test_warmed_query_has_no_exchange_before_kernel(spark, tables, tmp_path_factory):
    """Warmed searchers — one index, and two segments — cache the postings
    pre-partitioned by shard, so a real search()'s scoring kernel reads
    the cache with no exchange in between; warmed, unwarmed and the
    monolithic index return the same run."""
    from flexneuart_spark.search.engine import SegmentedSearcher, Searcher

    corpus = make_corpus(150, 42)
    segs = []
    for i, part in enumerate((corpus.iloc[:70], corpus.iloc[70:])):
        d = str(tmp_path_factory.mktemp(f"plan_seg{i}"))
        build_index(spark, spark.createDataFrame(part), d, num_shards=4)
        segs.append(d)
    queries = [("q1", "def return"), ("q2", "import numpy class"), ("q3", "self self value")]

    def run(searcher):
        return sorted(map(tuple, searcher.search(queries, k=5).collect()))

    mono = run(Searcher(spark, tables))
    assert mono
    for cold, warmed in (
        (Searcher(spark, tables), Searcher(spark, tables).warm()),
        (SegmentedSearcher(spark, segs), SegmentedSearcher(spark, segs).warm()),
    ):
        p = _plan(warmed.search(queries, k=5))
        kernel_input = p.split("FlatMapGroupsInArrow", 1)[1].split("InMemoryTableScan", 1)
        assert len(kernel_input) == 2, p  # the kernel reads the postings cache
        assert "Exchange" not in kernel_input[0], p
        want = run(cold)
        assert run(warmed) == want
        # ids and ranks exact; scores to float-summation order (the
        # segments' blocks differ from the monolithic index's)
        assert [r[:2] + r[3:] for r in want] == [r[:2] + r[3:] for r in mono]
        assert [r[2] for r in want] == pytest.approx([r[2] for r in mono], rel=1e-9)


def test_neural_entries_plan_shape(spark):
    """Neural entry plans keep the scale-safe shape: the all-pairs term
    product is a BroadcastNestedLoopJoin on the tiny query-term side
    (never a shuffled CartesianProduct), every groupBy partial-aggregates
    map-side, and the hash embedding stays a JVM expression (no
    PythonUDF / ArrowEval node anywhere in the entry plans)."""
    docs = spark.createDataFrame(
        [(f"d{i}", ["hash", "join", f"t{i}"]) for i in range(20)],
        ["doc_id", "tokens"],
    )
    qs = spark.createDataFrame([("q1", ["hash", "scan"])], ["query_id", "tokens"])

    from flexneuart_spark.neural.knrm import kernel_features
    from flexneuart_spark.neural.late_interaction import maxsim_scores
    from flexneuart_spark.neural.biencoder import biencoder_scores
    from flexneuart_spark.neural.drmm import histogram_features

    for df in (maxsim_scores(docs, qs), kernel_features(docs, qs), histogram_features(docs, qs)):
        plan = _plan(df)
        assert "BroadcastNestedLoopJoin" in plan, plan[:1500]
        assert "CartesianProduct" not in plan
        assert "partial" in plan.lower()  # map-side combine before exchange
        assert "PythonUDF" not in plan and "ArrowEval" not in plan

    plan = _plan(biencoder_scores(docs, qs))
    assert "CartesianProduct" not in plan
    assert "PythonUDF" not in plan and "ArrowEval" not in plan


def test_rm3_plan_shape(spark):
    """RM3 keeps the candidate-bounded shape: no CartesianProduct, no
    Python in the plan, every corpus-side aggregation partial-aggregates
    map-side, and the RM3-specific joins are broadcast (the corpus is
    never shuffled for the relevance model / RM1 passes —
    search/rm3.py scale posture)."""
    from flexneuart_spark.search.rm3 import rm3_rescore

    docs = spark.createDataFrame(
        [(i, ["hash", "join", f"t{i}", f"u{i % 5}"]) for i in range(40)],
        ["doc_id", "tokens"],
    )
    qs = spark.createDataFrame([("q1", ["hash", "join"])], ["query_id", "tokens"])
    # materialize=False keeps ONE inspectable lazy plan end-to-end
    df = rm3_rescore(docs, qs, cand_qty=10, top_doc_qty=3, top_term_qty=5, materialize=False)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "PythonUDF" not in plan and "ArrowEval" not in plan
    assert "partial" in plan.lower()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan[:1500]
    # the same result set as the materialized default
    a = sorted((r.query_id, r.doc_id, round(r.rm3_score, 9)) for r in df.collect())
    b = sorted(
        (r.query_id, r.doc_id, round(r.rm3_score, 9))
        for r in rm3_rescore(
            docs, qs, cand_qty=10, top_doc_qty=3, top_term_qty=5, materialize=True
        ).collect()
    )
    assert a == b
