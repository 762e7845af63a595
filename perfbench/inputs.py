"""Seeded workload inputs: corpus, query set and streamed micro-batches.

Everything here is a pure function of (workload, seed, scale), so the
same seed gives the same inputs. The engine only ever sees the generated
tables and query lists.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from flexneuart_spark.fixtures import make_corpus_scaled, make_queries, vocabulary


@dataclass(frozen=True)
class Workload:
    name: str
    n_docs: int        # corpus size at scale 1
    mean_log: float    # lognormal doc length (tokens): median = e^mean_log
    sigma: float
    n_ids: int         # identifier vocabulary size
    query_kind: str    # "zipf" (head + tail + OOV) or "midtail" (no head terms)
    n_queries: int     # query set size (the batch is the whole set)
    stream_batches: int  # micro-batches streamed in the traced ingest phase
    stream_docs: int     # docs per micro-batch at scale 1


WORKLOADS = {
    # long source files (median ~450 tokens): build cost sits in tokenize +
    # postings encode, query cost in long head-term postings + kernel
    "code": Workload("code", 1_200, 6.1, 0.85, 30_000, "zipf", 100, 2, 200),
    # short passages (median ~55 tokens), about the same token volume as
    # `code`, large vocabulary, no head terms in queries: cost sits in
    # per-doc build work and per-query planning / doc-map labelling
    "passages": Workload("passages", 10_000, 4.0, 0.85, 100_000, "midtail", 100, 2, 1_600),
}

# first id of the streamed micro-batches: keeps their doc ids disjoint from
# the base corpus (make_corpus_scaled derives paths from the id)
_STREAM_ID0 = 10_000_000


def scaled(n: int, scale: float, floor: int = 8) -> int:
    return max(floor, int(round(n * scale)))


def corpus(w: Workload, seed: int, scale: float) -> pd.DataFrame:
    return make_corpus_scaled(
        scaled(w.n_docs, scale), seed=seed, n_ids=w.n_ids, mean_log=w.mean_log, sigma=w.sigma
    )


def stream_batch(w: Workload, seed: int, scale: float, b: int) -> pd.DataFrame:
    n = scaled(w.stream_docs, scale)
    return make_corpus_scaled(
        n, seed=seed * 1_000 + 17 + b, n_ids=w.n_ids, mean_log=w.mean_log, sigma=w.sigma,
        id_offset=_STREAM_ID0 + b * n,
    )


def queries(w: Workload, seed: int) -> list[tuple[str, str]]:
    if w.query_kind == "zipf":
        # make_queries' Zipf mix of 1-8 tokens (~10% OOV); its last query is
        # the empty one, which never reaches Spark — dropped so every timed
        # query is a real search
        q = make_queries(w.n_queries + 1, seed=seed + 1, n_ids=w.n_ids)
        return list(q.itertuples(index=False, name=None))[: w.n_queries]
    # 2-6 mid/tail terms: the corpus' own Zipf law restricted to ranks past
    # the head (like a stopworded text field)
    rng = np.random.default_rng(seed + 1)
    vocab = np.array(vocabulary(w.n_ids), dtype=object)
    lo = 300
    ranks = np.arange(lo, len(vocab), dtype=np.float64)
    p = 1.0 / (ranks + 1.0)
    p /= p.sum()
    out = []
    for i in range(w.n_queries):
        toks = vocab[lo + rng.choice(len(ranks), size=int(rng.integers(2, 7)), p=p)]
        out.append((f"p{i}", " ".join(toks)))
    return out
