"""Tokenizers.

The reference's contract (SURVEY.md §2.3): all linguistic work happens
upstream; the index- and query-level tokenizer is a verbatim whitespace
split (``ForwardIndex.java:874-878``, ``LuceneIndexer.java:169-171`` —
WhitespaceAnalyzer, "all language-related processing is done already").
Empty string → empty token array.

For the source-code corpus we add a deterministic *code tokenizer* playing
the role of the reference's upstream text processors
(``flexneuart/text_proc/parse.py:80-167``): it is defined exactly as

  1. split camelCase boundaries: insert a space between ``[a-z0-9]`` and
     ``[A-Z]``;
  2. replace every run of non-alphanumeric characters (incl. ``_``) with a
     single space;
  3. lowercase;
  4. whitespace-split, dropping empty tokens.

Three implementations share this spec and are tested for equality with
the plain-Python one (used by query prep and the single-process numpy
oracle): an Arrow-compute one (the index builder's tokenizer UDF body — no
per-row Python at the Spark layer), and a JVM column-expression chain
(regexp_replace + split, fully inside whole-stage codegen — the fast path
for the relational formulation).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

_CAMEL = r"([a-z0-9])([A-Z])"
_NONALNUM = r"[^a-zA-Z0-9]+"
_WS = r"\s+"

_camel_re = re.compile(_CAMEL)
_nonalnum_re = re.compile(_NONALNUM)


# ---------------------------------------------------------------------------
# Whitespace tokenizer (T9 — THE index/query-level tokenizer)
# ---------------------------------------------------------------------------

def whitespace_tokenize(text: str) -> list[str]:
    """Verbatim whitespace split; '' → []. Mirrors ForwardIndex.java:874-878."""
    if not text:
        return []
    return [t for t in re.split(_WS, text) if t]


def whitespace_tokens_col(col: Column | str) -> Column:
    """JVM-side whitespace tokenizer: split on \\s+ and drop empties."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(c, _WS), lambda t: t != F.lit(""))


# ---------------------------------------------------------------------------
# Code tokenizer (upstream processor slot, SURVEY.md §2.3 T1)
# ---------------------------------------------------------------------------

def code_tokenize(text: str) -> list[str]:
    """Plain-Python reference implementation of the code tokenizer."""
    if not text:
        return []
    s = _camel_re.sub(r"\1 \2", text)
    s = _nonalnum_re.sub(" ", s)
    s = s.lower()
    return [t for t in s.split() if t]


def code_tokens_col(col: Column | str) -> Column:
    """JVM column-expression code tokenizer (whole-stage codegen path).

    Same spec as :func:`code_tokenize`; Java and Python regex agree on
    these patterns (tested).
    """
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, _CAMEL, r"$1 $2")
    c = F.regexp_replace(c, _NONALNUM, " ")
    c = F.lower(c)
    return F.filter(F.split(c, _WS), lambda t: t != F.lit(""))


def code_tokenize_arrow(s: pd.Series) -> pd.Series:
    """Arrow-compute implementation of the code tokenizer — the same spec
    as :func:`code_tokenize` (equality-tested) with every pass in C (RE2
    replace, utf8_lower, split). Used inside the index builder's
    tokenizer UDF."""
    import pyarrow as pa
    import pyarrow.compute as pc

    arr = pa.Array.from_pandas(s.fillna(""))
    arr = pc.replace_substring_regex(arr, pattern=_CAMEL, replacement=r"\1 \2")
    arr = pc.replace_substring_regex(arr, pattern=_NONALNUM, replacement=" ")
    arr = pc.utf8_lower(arr)
    arr = pc.utf8_trim(arr, " ")
    lists = pc.split_pattern_regex(arr, " +")
    out = lists.to_pandas()
    # an all-separator doc trims to "" and splits to [''] — must be []
    empty = pc.equal(pc.utf8_length(arr), 0).to_numpy(zero_copy_only=False)
    if empty.any():
        out[empty] = pd.Series([[] for _ in range(int(empty.sum()))], index=out.index[empty])
    return out


def krovetz_tokenize(text: str) -> list[str]:
    """T2 pipeline as an index/query tokenizer: KrovetzStemParser with an
    empty stop list (lowercase → drop non-alnum → rule-engine stem), then
    whitespace split. Stemming happens at INDEX time, matching the
    reference's upstream-processing contract (all linguistic work before
    the whitespace index tokenizer)."""
    from flexneuart_spark.functions.kstem import KrovetzStemParser

    return KrovetzStemParser([])(text or "").split()


def krovetz_tokenize_pandas(s: pd.Series) -> pd.Series:
    from flexneuart_spark.functions.kstem import KrovetzStemParser

    parser = KrovetzStemParser([])
    return s.fillna("").map(lambda t: parser(t).split())


TOKENIZERS = {
    "code": code_tokenize,
    "whitespace": whitespace_tokenize,
    "krovetz": krovetz_tokenize,
}


# ---------------------------------------------------------------------------
# Per-row invariant (north rule): sha256(content) hex
# ---------------------------------------------------------------------------

def sha256_hex_col(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.sha2(c, 256)
