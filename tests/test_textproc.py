"""T3/T4/T6/T8 text-processing helpers + SDM combination."""

from __future__ import annotations

import pandas as pd
import pytest

from flexneuart_spark.functions.textproc import (
    handle_case_col,
    pretokenize_url_col,
    sentencize_col,
    strip_diacritics_ascii_col,
)


def test_pretokenize_url(spark):
    rows = [
        ("https://www.example.com/a/b?q=1", "example com a b q 1"),
        ("http://sub.host.org/path_x", "sub host org path x"),
        ("ftp://x.y/z", "x y z"),
        ("no-scheme.com/pg", "no scheme com pg"),
    ]
    df = spark.createDataFrame(pd.DataFrame({"u": [r[0] for r in rows]}))
    got = [r.t for r in df.select(pretokenize_url_col("u").alias("t")).collect()]
    assert got == [r[1] for r in rows]


def test_sentencize(spark):
    df = spark.createDataFrame(pd.DataFrame({"s": ["One. Two! Three? Four", "Single"]}))
    got = [r.t for r in df.select(sentencize_col("s").alias("t")).collect()]
    assert got == [["One.", "Two!", "Three?", "Four"], ["Single"]]


def test_case_and_ascii(spark):
    df = spark.createDataFrame(pd.DataFrame({"s": ["MiXeD Cäse"]}))
    got = df.select(
        handle_case_col("s").alias("lo"), strip_diacritics_ascii_col("s").alias("a")
    ).collect()[0]
    assert got.lo == "mixed cäse" and got.a == "MiXeD Cse"


def test_sdm_combines_components(spark, tmp_path_factory):
    from flexneuart_spark.fixtures import make_corpus, make_queries
    from flexneuart_spark.index.builder import build_index
    from flexneuart_spark.search.proximity import sdm_topk

    corpus = make_corpus(n_docs=150, seed=42)
    idx = str(tmp_path_factory.mktemp("sdm_idx"))
    t = build_index(spark, spark.createDataFrame(corpus), idx, num_shards=4)
    queries = [(r.query_id, r.text) for r in make_queries(6, seed=45).itertuples(index=False)]
    run = sdm_topk(spark, t, queries, k=5)
    per_q = {}
    for r in run.collect():
        per_q.setdefault(r.query_id, []).append((r.rank, r.score))
    assert per_q, "sdm produced no results"
    for qid, rows in per_q.items():
        rows.sort()
        assert [x[0] for x in rows] == list(range(1, len(rows) + 1))
        scores = [x[1] for x in rows]
        assert all(scores[i] >= scores[i + 1] - 1e-12 for i in range(len(scores) - 1))


def test_html_to_text_basic(spark):
    from flexneuart_spark.functions.textproc import html_to_text_col, html_to_text_pandas

    html = (
        "<html><head><style>p {color:red}</style>"
        "<script>var x = '<p>';</script></head>"
        "<!-- a comment --><body><p>Hello &amp; <b>world</b></p>"
        "<div>a &lt; b &gt; c&nbsp;&quot;q&quot; &#39;s&#39;</div></body></html>"
    )
    want = "Hello & world a < b > c \"q\" 's'"
    # pandas implementation
    assert html_to_text_pandas([html]).iloc[0] == want
    # JVM implementation agrees on the common-entity subset
    from pyspark.sql import functions as F

    got = (
        spark.createDataFrame([(html,)], ["h"])
        .select(html_to_text_col("h").alias("t"))
        .collect()[0]
        .t
    )
    assert got == want
    # empty/None-ish input
    assert html_to_text_pandas([""]).iloc[0] == ""


def test_html_to_text_in_pipeline(spark):
    from flexneuart_spark.operators.pipeline import apply_pipeline

    df = spark.createDataFrame([("d1", "<p>Foo <i>bar</i></p>")], ["doc_id", "content"])
    out = apply_pipeline(
        df,
        [
            {"op": "html_to_text", "col": "content"},
            {"op": "whitespace_tokens", "col": "content", "out": "tokens"},
        ],
    ).collect()[0]
    assert out.content == "Foo bar" and list(out.tokens) == ["Foo", "bar"]


def test_html_main_text_drops_boilerplate():
    from flexneuart_spark.functions.textproc import html_main_text

    page = """
    <html><head><script>var x=1;</script></head><body>
    <nav><a href="/">Home</a> <a href="/about">About</a> <a href="/contact">Contact</a></nav>
    <div>This is the main article body with plenty of real sentences inside it,
    long enough to clear the minimum block size threshold easily.</div>
    <div>Short.</div>
    <footer><a href="/tos">Terms</a> <a href="/privacy">Privacy</a> copyright</footer>
    </body></html>
    """
    out = html_main_text(page)
    assert "main article body" in out
    assert "Home" not in out          # nav: pure link block
    assert "Short." not in out        # below min block length
    assert "Privacy" not in out       # footer: link-dense
    assert html_main_text("") == ""


def test_html_main_text_link_density_boundary():
    from flexneuart_spark.functions.textproc import html_main_text

    # a long block that is mostly links must be dropped even though long
    links = " ".join(f'<a href="/{i}">navigation link number {i}</a>' for i in range(10))
    assert html_main_text(f"<div>{links}</div>") == ""
    # same-length block with links removed is kept
    text = " ".join(f"navigation link number {i}" for i in range(10))
    assert "navigation" in html_main_text(f"<div>{text}</div>")


def test_html_main_text_spark_column(spark):
    from flexneuart_spark.functions.textproc import html_main_text_col
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("<div>A genuinely long paragraph of body copy for the extractor to keep around.</div>"
          '<nav><a href="/">x</a><a href="/y">y</a></nav>',)],
        ["html"],
    )
    out = df.select(html_main_text_col("html").alias("t")).collect()[0].t
    assert "body copy" in out and "x" not in out.split()
