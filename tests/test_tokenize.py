"""Tokenizer golden tests (pattern of reference tests/test_parse.py:21-33)
+ three-implementation equality (plain-Python / Arrow-compute / JVM columns)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from flexneuart_spark.functions.tokenize import (
    code_tokenize,
    code_tokens_col,
    whitespace_tokenize,
    whitespace_tokens_col,
)

GOLDEN_WS = [
    ("", []),
    ("  ", []),
    ("a b", ["a", "b"]),
    ("a\t b\nc  d", ["a", "b", "c", "d"]),
    ("Keep.Case-AND punct!", ["Keep.Case-AND", "punct!"]),
]

GOLDEN_CODE = [
    ("", []),
    ("def foo_bar(x):\n    return x+1", ["def", "foo", "bar", "x", "return", "x", "1"]),
    ("camelCaseName HTTPServer2", ["camel", "case", "name", "httpserver2"]),
    ("a==b && c->d", ["a", "b", "c", "d"]),
    ("__init__", ["init"]),
    ("x = 'héllo wörld'", ["x", "h", "llo", "w", "rld"]),  # non-ASCII split (deterministic)
    ("V2Counter", ["v2", "counter"]),
    ("{ } ( ) ;;", []),
]

SAMPLES = [s for s, _ in GOLDEN_WS + GOLDEN_CODE] + [
    "for (int i = 0; i < n; i++) { sum += arr[i]; }",
    "SELECT * FROM t WHERE x=1",
    "multi\nline\n\ttext",
]


def test_whitespace_golden():
    for s, want in GOLDEN_WS:
        assert whitespace_tokenize(s) == want, s


def test_code_golden():
    for s, want in GOLDEN_CODE:
        assert code_tokenize(s) == want, s


def test_jvm_matches_python(spark):
    df = spark.createDataFrame(pd.DataFrame({"s": SAMPLES}))
    got_code = [r.t for r in df.select(code_tokens_col("s").alias("t")).collect()]
    got_ws = [r.t for r in df.select(whitespace_tokens_col("s").alias("t")).collect()]
    assert got_code == [code_tokenize(s) for s in SAMPLES]
    assert got_ws == [whitespace_tokenize(s) for s in SAMPLES]


def test_sha256_invariant(spark):
    import hashlib

    df = spark.createDataFrame(pd.DataFrame({"s": SAMPLES}))
    got = [r.h for r in df.select(F.sha2("s", 256).alias("h")).collect()]
    assert got == [hashlib.sha256(s.encode()).hexdigest() for s in SAMPLES]


def test_code_tokenize_arrow_equals_python():
    import pandas as pd

    from flexneuart_spark.fixtures import make_corpus
    from flexneuart_spark.functions.tokenize import code_tokenize_arrow

    s = pd.concat(
        [
            make_corpus(300, 5)["content"],
            pd.Series(["", "   ", None, "camelCaseXYZ snake_case 1a2B", "___", "ÉéÜü mixedÀcase"]),
        ],
        ignore_index=True,
    )
    a = code_tokenize_arrow(s)
    assert [list(x) for x in a] == [code_tokenize(x) for x in s]
