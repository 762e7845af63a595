"""The pivoted corpus-join reduction shared by the term-interaction heads
(MaxSim, KNRM, DRMM).

Each head scores every (query term, doc term) pair on the V×Q vocabulary
table (``pairs``: term, qterm, value columns) and then reduces those pair
values over each document's terms. Joining ``pairs`` to the corpus
directly multiplies every corpus-scaled row by Q — the long form that
made ``colbert_maxsim`` grow 16.2× on 10× data. The pivoted form first
folds ``pairs`` to ONE row per vocab term carrying an array per value
column (in sorted-qterm order), so the corpus join output stays at the
corpus's row count and the per-doc reduction is Q·W map-side-combinable
aggregates over a single ``groupBy(doc_id)`` shuffle, exploded back to
(doc_id, qterm) rows afterwards.

Past ``PIVOT_MAX_AGGS`` aggregate columns (Q query terms × W aggregates
per term) the aggregate width would dominate, so the long form is the
fallback — it is correct at any Q. 704 = 64 query terms × 11 kernels/bins.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

PIVOT_MAX_AGGS = 64 * 11

# an aggregate is built from a getter of the pair value column per query term
Agg = Callable[[Callable[[str], Column]], Column]


def pivot_reduce(corpus: DataFrame, pairs: DataFrame, qterms: DataFrame, aggs: dict[str, Agg]) -> DataFrame:
    """(doc_id, qterm, *aggs): per document and query term, each named
    aggregate over the document's ``corpus`` rows (doc_id, term, ...)
    joined on term with ``pairs`` (term, qterm, value columns).

    ``aggs[name](v)`` returns the aggregate Column, where ``v(col)`` is
    the pair value ``col`` for the query term being reduced. ``qterms``
    holds the distinct query terms (column ``qterm``); only that tiny,
    broadcast-scale list is collected to fix the pivot order, never the
    corpus."""
    value_cols = [c for c in pairs.columns if c not in ("term", "qterm")]
    qt_list = sorted(r[0] for r in qterms.select("qterm").distinct().collect())
    nq = len(qt_list)
    if not 0 < nq * len(aggs) <= PIVOT_MAX_AGGS:
        return (
            corpus.join(pairs, "term")
            .groupBy("doc_id", "qterm")
            .agg(*[agg(F.col).alias(name) for name, agg in aggs.items()])
        )
    # one row per vocab term, one array per value column in qt_list order
    # (array_sort on (qterm, ...) structs sorts by qterm asc — the same
    # order as the sorted collected list)
    arrays = (
        pairs.groupBy("term")
        .agg(F.array_sort(F.collect_list(F.struct("qterm", *value_cols))).alias("_s"))
        .select("term", *[F.col(f"_s.{c}").alias(c) for c in value_cols])
    )
    per_doc = (
        corpus.join(arrays, "term")
        .groupBy("doc_id")
        .agg(
            *[
                agg(lambda c, i=i: F.col(c)[i]).alias(f"_{name}_{i}")
                for i in range(nq)
                for name, agg in aggs.items()
            ]
        )
    )
    # docs×Q long form (post-reduction — tiny relative to the corpus join)
    return per_doc.select(
        "doc_id",
        F.explode(
            F.map_from_arrays(
                F.array(*[F.lit(qt) for qt in qt_list]),
                F.array(*[F.struct(*[F.col(f"_{name}_{i}").alias(name) for name in aggs]) for i in range(nq)]),
            )
        ).alias("qterm", "_v"),
    ).select("doc_id", "qterm", *[F.col(f"_v.{name}").alias(name) for name in aggs])
