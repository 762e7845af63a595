"""Pivoted vs long-form corpus-join equivalence for the neural heads.

``late_interaction.maxsim_scores``, ``knrm.kernel_features`` and
``drmm.histogram_features`` share ``pivot.pivot_reduce``, which pivots
the V×Q pair table to one array-carrying row per vocab term before the
corpus join (so no corpus-scaled exchange is ×Q row-multiplied — the
blowup that made the pre-pivot MaxSim grow 16.2× on 10× data). Past
``pivot.PIVOT_MAX_AGGS`` aggregate columns it falls back to the long
(doc_id, qterm) grouping. These tests pin that the two plans are
VALUE-equivalent, on corpora with repeated terms, qtf>1, docs disjoint
from the query vocabulary, single-term docs and multi-query batches —
forcing the long form by dropping the budget to 0.
"""

from __future__ import annotations

import pytest

from flexneuart_spark.neural import pivot as pivot_mod
from flexneuart_spark.neural.drmm import NBINS, histogram_features
from flexneuart_spark.neural.knrm import N_KERNELS, kernel_features
from flexneuart_spark.neural.late_interaction import maxsim_scores


def _corpus(spark):
    docs = spark.createDataFrame(
        [
            ("d1", ["hash", "join", "hash", "hash"]),
            ("d2", ["join", "scan", "filter", "scan", "merge"]),
            ("d3", ["window", "agg", "row", "row"]),
            ("d4", ["zzz"]),  # disjoint from every query term
            ("d5", ["the", "a", "the"]),
            ("d6", ["hash"]),
        ],
        ["doc_id", "tokens"],
    )
    qs = spark.createDataFrame(
        [
            ("q1", ["hash", "join"]),
            ("q2", ["scan", "scan", "agg"]),  # qtf > 1
            ("q3", ["oovterm"]),  # OOV-only query
        ],
        ["query_id", "tokens"],
    )
    return docs, qs


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _rows(df, cols):
    return {
        (r.query_id, r.doc_id): [getattr(r, c) for c in cols]
        for r in df.collect()
    }


@pytest.mark.parametrize(
    "fn,cols",
    [
        (kernel_features, [f"phi{k}" for k in range(N_KERNELS)]),
        (histogram_features, [f"phi{b}" for b in range(NBINS)]),
        (maxsim_scores, ["score"]),
    ],
    ids=["knrm", "drmm", "maxsim"],
)
def test_pivot_equals_long_form(spark, monkeypatch, fn, cols):
    docs, qs = _corpus(spark)
    pivot_df = fn(docs, qs)
    monkeypatch.setattr(pivot_mod, "PIVOT_MAX_AGGS", 0)  # force long form
    long_df = fn(docs, qs)
    # the two calls really took the two plans
    assert "map_from_arrays" in _plan(pivot_df)
    assert "map_from_arrays" not in _plan(long_df)
    pivot, long = _rows(pivot_df, cols), _rows(long_df, cols)
    assert set(pivot) == set(long)
    for key in pivot:
        for a, b in zip(pivot[key], long[key]):
            assert a == pytest.approx(b, rel=1e-9, abs=1e-12), (key, a, b)


def test_maxsim_pivot_dense_pairs(spark):
    """The pivoted MaxSim still scores EVERY (query, doc-with-terms)
    pair (hash-embedding similarity is dense, not term-match-sparse),
    including OOV-only queries and query-disjoint docs."""
    docs, qs = _corpus(spark)
    got = maxsim_scores(docs, qs)
    assert got.count() == 3 * 6  # 3 queries × 6 non-empty docs
    assert got.where("score IS NULL").count() == 0
