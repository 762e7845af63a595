"""Index-build correctness: per-row sha256 invariant (north rule), forward
index BOW semantics, dictionary df / ids, corpus stats — all vs the numpy
oracle ground truth."""

from __future__ import annotations

import hashlib

import pytest

from flexneuart_spark.fixtures import make_corpus
from flexneuart_spark.functions.tokenize import code_tokenize
from flexneuart_spark.index.builder import build_index
from flexneuart_spark.oracle import Bm25Oracle


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    corpus = make_corpus(n_docs=200, seed=42)
    idx_dir = str(tmp_path_factory.mktemp("idx"))
    sdf = spark.createDataFrame(corpus)
    tables = build_index(spark, sdf, idx_dir, num_shards=8, tokenizer="code")
    docs = [
        (f"{r.repo}:{r.path}@{r.commit}", code_tokenize(r.content))
        for r in corpus.itertuples(index=False)
    ]
    oracle = Bm25Oracle(docs)
    return tables, corpus, oracle


def test_sha256_invariant(spark, built):
    tables, corpus, _ = built
    got = {r.doc_id: r.content_sha256 for r in tables.fwd(spark).select("doc_id", "content_sha256").collect()}
    assert len(got) == len(corpus)
    for r in corpus.itertuples(index=False):
        did = f"{r.repo}:{r.path}@{r.commit}"
        assert got[did] == hashlib.sha256(r.content.encode()).hexdigest()


def test_fwd_bow_matches_oracle(spark, built):
    from collections import Counter

    tables, _, oracle = built
    rows = tables.fwd(spark).select("doc_id", "tokens", "doc_len").collect()
    by_id = {r.doc_id: r for r in rows}
    for did, tf_counter, dl in zip(oracle.doc_ids, oracle.tf, oracle.doc_len):
        r = by_id[did]
        assert r.doc_len == dl == len(r.tokens)
        # token sequence carries exactly the oracle's BOW (the sorted-unique
        # view of ForwardIndex.java:550-584 is derived, not stored)
        assert Counter(r.tokens) == Counter(dict(tf_counter))


def test_ordinals_dense_per_shard(spark, built):
    tables, _, _ = built
    from pyspark.sql import functions as F

    agg = tables.docmap(spark).groupBy("shard").agg(
        F.count("*").alias("n"), F.min("ord").alias("mn"), F.max("ord").alias("mx"),
        F.countDistinct("ord").alias("nd"),
    ).collect()
    for r in agg:
        assert r.mn == 0 and r.mx == r.n - 1 and r.nd == r.n


def test_dictionary_matches_oracle(spark, built):
    tables, _, oracle = built
    rows = tables.dictionary(spark).collect()
    got_df = {r.term: r.df for r in rows}
    assert got_df == dict(oracle.df)
    # dense ids 1..V in ascending term order (MIN_WORD_ID=1 parity)
    by_term = sorted(rows, key=lambda r: r.term)
    assert [r.term_id for r in by_term] == list(range(1, len(rows) + 1))
    for r in rows:
        assert abs(r.idf - oracle.idf(r.term)) < 1e-12


def test_corpus_stats(spark, built):
    tables, _, oracle = built
    n_docs, total, avgdl = tables.stats(spark)
    assert n_docs == oracle.n_docs
    assert total == oracle.total_tokens
    assert abs(avgdl - oracle.avg_doc_len) < 1e-12


def test_postings_df_consistency(spark, built):
    tables, _, oracle = built
    from pyspark.sql import functions as F

    got = {
        r.term: r.s
        for r in tables.postings(spark).groupBy("term").agg(F.sum("df_shard").alias("s")).collect()
    }
    assert got == dict(oracle.df)


def test_head_term_salting_bounds_shard_postings(spark, tmp_path_factory):
    """Skew story (north rule 'explicit salting of skewed head terms'):
    a term occurring in EVERY doc must be split into per-shard posting
    lists, each bounded by its shard's doc count — no reducer ever sees
    the whole term — and global df must still be exact."""
    import pandas as pd
    from pyspark.sql import functions as F

    n, shards = 400, 8
    pdf = pd.DataFrame(
        {
            "doc_id": [f"doc{i:04d}" for i in range(n)],
            "content": [f"def common x{i} y{i % 7}" for i in range(n)],  # 'def'+'common' in all
        }
    )
    idx = str(tmp_path_factory.mktemp("skew_idx"))
    t = build_index(spark, spark.createDataFrame(pdf), idx, num_shards=shards, tokenizer="code")
    rows = t.postings(spark).filter(F.col("term") == "common").select("shard", "df_shard").collect()
    assert len(rows) == shards  # split across every shard
    per_shard_docs = {
        r.shard: r.n for r in t.docmap(spark).groupBy("shard").agg(F.count("*").alias("n")).collect()
    }
    for r in rows:
        assert r.df_shard == per_shard_docs[r.shard]  # bounded by shard size
    assert sum(r.df_shard for r in rows) == n  # exact global df
    got = {r.term: r.df for r in t.dictionary(spark).filter(F.col("term").isin(["common", "def"])).collect()}
    assert got == {"common": n, "def": n}


def test_max_doc_size_truncation(spark, tmp_path_factory):
    """F3: content is truncated to max_doc_size BEFORE tokenization
    (flexneuart/config.py:42 — 32 KiB at ingest), while the sha256
    invariant covers the FULL original content."""
    import hashlib

    import pandas as pd

    from flexneuart_spark.functions.tokenize import code_tokenize

    big = ("tok " * 20000).strip()  # 80k chars
    pdf = pd.DataFrame({"doc_id": ["d1"], "content": [big]})
    idx = str(tmp_path_factory.mktemp("trunc_idx"))
    t = build_index(spark, spark.createDataFrame(pdf), idx, num_shards=2, tokenizer="code")
    row = t.fwd(spark).select("doc_len", "content_sha256").collect()[0]
    assert row.doc_len == len(code_tokenize(big[:32768]))
    assert row.doc_len < len(code_tokenize(big))
    assert row.content_sha256 == hashlib.sha256(big.encode()).hexdigest()


def test_auto_num_shards_rule():
    from flexneuart_spark.index.builder import auto_num_shards

    # 16M-token target: 32 MB parquet (~96 MB raw, ~16M tokens) → 1 shard
    assert auto_num_shards(32_000_000) == 1
    # monotone: 100× corpus → 100× shards (same per-task footprint)
    s1 = auto_num_shards(10_000_000_000)      # ~10 GB parquet
    s100 = auto_num_shards(1_000_000_000_000)  # ~1 TB parquet
    assert s100 == pytest.approx(100 * s1, rel=0.02)
    # bounded
    assert auto_num_shards(0) == 1
    assert auto_num_shards(10**18) == 65_536
    # parallelism floor: never fewer shards than cores (extra shards only
    # LOWER per-task memory, so the bound is one-sided)
    assert auto_num_shards(32_000_000, min_shards=16) == 16
    assert auto_num_shards(10**18, min_shards=16) == 65_536


def test_build_with_auto_shards(spark, tmp_path_factory):
    from flexneuart_spark.fixtures import make_corpus
    from flexneuart_spark.search import Searcher

    idx = str(tmp_path_factory.mktemp("idx_auto"))
    # in-memory frame → estimate unavailable → DEFAULT_NUM_SHARDS fallback
    t = build_index(spark, spark.createDataFrame(make_corpus(120, 3)), idx,
                    num_shards=None, tokenizer="code")
    run = Searcher(spark, t).search([("q", "def return")], k=5).collect()
    assert len(run) == 5


def test_build_and_search_with_krovetz_tokenizer(spark, tmp_path_factory):
    import pandas as pd
    from flexneuart_spark.search import Searcher

    idx = str(tmp_path_factory.mktemp("idx_kstem"))
    pdf = pd.DataFrame(
        {
            "repo": ["r"] * 3,
            "path": [f"p{i}" for i in range(3)],
            "commit": ["c"] * 3,
            "lang": ["txt"] * 3,
            "content": [
                "running tests passed quickly",
                "the test was tried twice",
                "unrelated words entirely",
            ],
        }
    )
    t = build_index(spark, spark.createDataFrame(pdf), idx, num_shards=2, tokenizer="krovetz")
    # index vocabulary is stemmed: 'tests'→'test', 'tried'→'try'
    terms = {r.term for r in t.dictionary(spark).collect()}
    assert "test" in terms and "tests" not in terms and "try" in terms
    # the query side stems identically, so inflected queries match
    run = Searcher(spark, t).search([("q", "testing tries")], k=3).collect()
    assert {r.doc_id.split(":")[1].split("@")[0] for r in run} == {"p0", "p1"}


def test_arrow_kernel_equals_reference_encoder(spark, tmp_path_factory):
    # every (shard, term) row of the stage-2 Arrow kernel must equal the
    # per-term reference encoder (codec.encode_postings) run on that
    # term's (ord, tf, doc_len) postings counted in plain Python
    from collections import Counter

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from flexneuart_spark.fixtures import make_corpus
    from flexneuart_spark.index import builder as B
    from flexneuart_spark.index.codec import encode_postings

    corpus = spark.createDataFrame(make_corpus(150, 11))
    docs = B.derive_doc_id(corpus).withColumn(
        "shard", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(4)).cast("int")
    )
    tok = B._tokens_udf("code")
    fwd = (
        docs.withColumn("tokens", tok(F.substring(F.col("content"), 1, 32768)))
        .withColumn("doc_len", F.size("tokens").cast("long"))
        .select("shard", "doc_id", "tokens", "doc_len")
    )
    fwdp = (
        fwd.repartition(4, "shard")
        .sortWithinPartitions("shard", "doc_id")
        .withColumn("ord", F.row_number().over(Window.partitionBy("shard").orderBy("doc_id")).cast("long") - 1)
        .select("shard", "ord", "doc_len", "tokens")
        .persist()
    )
    postings: dict[tuple[int, str], list[tuple[int, int, int]]] = {}
    for r in fwdp.collect():
        for term, tf in Counter(r.tokens).items():
            postings.setdefault((r.shard, term), []).append((r.ord, tf, r.doc_len))
    got = fwdp.groupBy("shard").applyInArrow(B._arrow_postings_kernel, B._POSTINGS_SCHEMA).collect()
    fwdp.unpersist()
    assert len(got) == len(postings) > 0
    for row in got:
        ords, tfs, dls = zip(*sorted(postings[(row.shard, row.term)]))
        ref = encode_postings(ords, tfs, dls)
        assert row.payload == ref["payload"], (row.shard, row.term)
        assert row.df_shard == ref["df"]
        for col in ("block_off", "block_n", "block_max_doc", "block_max_tf", "block_min_dl"):
            assert list(getattr(row, col)) == list(ref[col]), (row.shard, row.term, col)


def test_estimate_corpus_bytes_file_backed(spark, tmp_path_factory):
    from flexneuart_spark.fixtures import make_corpus
    from flexneuart_spark.index.builder import auto_num_shards, estimate_corpus_bytes

    d = str(tmp_path_factory.mktemp("est"))
    spark.createDataFrame(make_corpus(200, 21)).write.mode("overwrite").parquet(d)
    est = estimate_corpus_bytes(spark.read.parquet(d))
    import os

    real = sum(
        os.path.getsize(os.path.join(d, f)) for f in os.listdir(d) if f.endswith(".parquet")
    )
    assert est == real > 0
    # tiny corpus → the sizing rule bottoms out at 1 shard
    assert auto_num_shards(est) == 1
    # in-memory frame → no estimate
    assert estimate_corpus_bytes(spark.createDataFrame(make_corpus(5, 1))) is None


def test_build_rejects_unknown_tokenizer(spark, tmp_path_factory):
    """An unknown tokenizer name raises ValueError before any Spark job
    runs (it used to be tokenized as whitespace without a word)."""
    corpus = spark.createDataFrame(make_corpus(10, 5))
    sc = spark.sparkContext
    sc.setJobGroup("build_unknown_tokenizer", "unknown tokenizer")
    try:
        with pytest.raises(ValueError, match="unknown tokenizer"):
            build_index(spark, corpus, str(tmp_path_factory.mktemp("idx_bad")), tokenizer="no_such")
        assert list(sc.statusTracker().getJobIdsForGroup("build_unknown_tokenizer")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_tokens_df_rejects_tokenizer_without_jvm_form(spark):
    """``tokens_df`` has JVM column forms of ``code`` and ``whitespace``
    only; any other name raises instead of splitting on whitespace."""
    from flexneuart_spark.search.bm25 import tokens_df

    docs = spark.createDataFrame([("d1", "running tests")], "doc_id string, content string")
    with pytest.raises(ValueError, match="'code' or 'whitespace'"):
        tokens_df(docs, "content", "doc_id", tokenizer="krovetz")
