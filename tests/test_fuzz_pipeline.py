"""Hypothesis fuzz of the FULL build+search pipeline (round-4 verdict
ask #4): random generated corpora — unicode tokens, empty docs,
duplicate-heavy "giant" docs, OOV-only and empty queries, duplicate
query tokens, k > corpus, adversarial shard counts (more shards than
docs), both kernels — through a real ``build_index`` + ``Searcher``
round trip, with the reference-semantics numpy oracle
(``flexneuart_spark/oracle.py``) as the rank-identity invariant and the
per-doc sha256 as the content invariant.

Example counts: ``FXN_FUZZ_EXAMPLES`` (default 20 — each example is a
real index build, ~2 s) controls the CI budget; the 200-example
campaign the round-4 verdict asked for is run as
``FXN_FUZZ_EXAMPLES=200 pytest tests/test_fuzz_pipeline.py`` and its
result recorded in COVERAGE.md.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from flexneuart_spark.functions.tokenize import whitespace_tokenize
from flexneuart_spark.index.builder import build_index
from flexneuart_spark.oracle import Bm25Oracle
from flexneuart_spark.search.engine import Searcher
from tests.conftest import assert_rank_identical

MAX_EXAMPLES = int(os.environ.get("FXN_FUZZ_EXAMPLES", "20"))

# non-whitespace unicode words (surrogates excluded; whitespace would
# split under the engine tokenizer and break the token round-trip)
word = st.text(
    alphabet=st.characters(
        blacklist_categories=("Zs", "Zl", "Zp", "Cc", "Cs"), max_codepoint=0x2FFF
    ),
    min_size=1,
    max_size=6,
)


@st.composite
def pipeline_case(draw):
    pool = draw(st.lists(word, min_size=2, max_size=8, unique=True))
    n_docs = draw(st.integers(1, 8))
    docs = []
    for i in range(n_docs):
        toks = draw(st.lists(st.sampled_from(pool), min_size=0, max_size=25))
        if toks and draw(st.booleans()):
            toks = toks * draw(st.integers(2, 20))  # duplicate-heavy giant doc
        docs.append((f"d{i}", " ".join(toks)))
    queries = []
    for qi in range(draw(st.integers(1, 3))):
        # pool terms, fresh (OOV) terms, duplicates — or nothing at all
        qtoks = draw(
            st.lists(st.one_of(st.sampled_from(pool), word), min_size=0, max_size=5)
        )
        queries.append((f"q{qi}", " ".join(qtoks)))
    k = draw(st.sampled_from([1, 3, 10, 50]))  # 50 > any corpus here
    shards = draw(st.sampled_from([1, 2, 3, 7]))  # 7 > n_docs often
    kernel = draw(st.sampled_from(["maxscore", "bmw"]))
    return docs, queries, k, shards, kernel


@given(pipeline_case())
@settings(
    max_examples=MAX_EXAMPLES,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
    print_blob=True,
)
def test_pipeline_fuzz_rank_identity(spark, case):
    docs, queries, k, shards, kernel = case
    sdf = spark.createDataFrame(docs, "doc_id string, content string")
    idx = tempfile.mkdtemp(prefix="fxn_fuzz_")
    try:
        tables = build_index(spark, sdf, idx, num_shards=shards, tokenizer="whitespace")

        # content invariant: stored sha256 == sha256 of the raw content
        sha_got = {r.doc_id: r.content_sha256 for r in tables.docmap(spark).collect()}
        for did, content in docs:
            assert sha_got[did] == hashlib.sha256(content.encode("utf-8")).hexdigest()

        run = Searcher(spark, tables).search(
            queries, k=k, kernel=kernel
        )
        got: dict[str, list[tuple[str, float]]] = {}
        for r in run.orderBy("query_id", "rank").collect():
            got.setdefault(r.query_id, []).append((r.doc_id, r.score))

        oracle = Bm25Oracle([(did, whitespace_tokenize(c)) for did, c in docs])
        for qid, text in queries:
            want = oracle.search(whitespace_tokenize(text), k)
            assert_rank_identical(got.get(qid, []), want)
    finally:
        shutil.rmtree(idx, ignore_errors=True)
