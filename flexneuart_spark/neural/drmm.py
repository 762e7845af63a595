"""DRMM — matching-histogram relevance head (Guo et al., CIKM 2016),
the third classic head the reference wires on top of BERT in CEDR
(``flexneuart/models/cedr/cedr_drmm.py:29-48`` + the histogram module
``models/cedr/utils.py:70-97``): for each query term, bucket the
query×doc cosine row into NBINS count bins, take log(count + 1e-5), and
combine per-term histogram vectors into a document score.

The reference combines per-term histograms with a small MLP; with a
LINEAR combine (the convex analogue this engine trains, same as the
KNRM head) the score factorizes through pooled per-(query, doc)
features:

    score(q, d) = Σ_qt Σ_b w_b · ln(h_b(qt, d) + 1e-5)
                = Σ_b w_b · φ_b(q, d)
    φ_b(q, d)   = Σ_qt qtf · ln(h_b(qt, d) + 1e-5)
    h_b(qt, d)  = Σ_{dt : bin(cos(qt, dt)) = b} tf(d, dt)

so — exactly like the KNRM kernel features — extraction is one
term-equi-join plus two partial-aggregated groupBys, and the learned
state is NBINS + 1 floats. Bin rule is the reference's verbatim
(``utils.py:79``): ``int((cos + 1.000001) / 2 · (NBINS − 1))`` — the
+1e-6 nudge puts an exact-match cosine of 1.0 into the top bin.

The histogram indicator is a hard threshold on the cosine (vs KNRM's
smooth RBF), which makes this head *more* cross-engine stable: the md5
hash embeddings give bit-identical cosines in Spark SQL, numpy, and
DuckDB, and floor() of an identical double is identical.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flexneuart_spark.neural import register
from flexneuart_spark.neural.embeddings import (
    hash_dot_col,
    hash_embedding_col,
    hash_embedding_np,
    sql_dot,
    sql_embedding_cte,
)
from flexneuart_spark.neural.knrm import KNRM
from flexneuart_spark.neural.pivot import pivot_reduce

# cedr_drmm.py:29 — NBINS = 11; utils.py:79 — the bin rule constants
NBINS = 11
BIN_NUDGE = 1.000001
LOG_EPS = 1e-5  # utils.py:97 — (histogram + 1e-5).log()


def _bin_col(cos: Column) -> Column:
    """utils.py:79: int((sim + 1.000001) / 2 * (bins - 1)). cos ≥ −1 so
    truncation == floor; the expression tree mirrors the SQL oracle's
    op-for-op (IEEE doubles → identical bins)."""
    return F.floor(
        ((cos + F.lit(BIN_NUDGE)) / F.lit(2.0)) * F.lit(float(NBINS - 1))
    ).cast("int")


# ---------------------------------------------------------------------------
# Distributed histogram-feature extraction (relational form)
# ---------------------------------------------------------------------------

def histogram_features(docs_tok: DataFrame, q_tok: DataFrame) -> DataFrame:
    """Per (query_id, doc_id): the NBINS pooled features ``phi_0..B-1``.

    Same scale shape as ``knrm.kernel_features``: cosines and bin
    indices are computed once on the V×Q vocabulary table (broadcast
    nested-loop against the tiny distinct-query-term side), never on the
    O(corpus·Q) pair rows; corpus-sized work is one equi-join on term +
    two groupBys, both with map-side partial aggregation.

    And like it, the corpus-side join is the shared pivoted reduction
    (``neural/pivot.py``): the join output stays |tf| rows (never |tf|·Q)
    and the per-doc histogram is Q·NBINS conditional sums over one
    ``groupBy(doc_id)`` shuffle, with the long (doc_id, qterm) grouping
    as the fallback past the pivot's column budget."""
    tf = (
        docs_tok.select("doc_id", F.explode("tokens").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    qt = (
        q_tok.select("query_id", F.explode("tokens").alias("qterm"))
        .groupBy("query_id", "qterm")
        .agg(F.count("*").alias("qtf"))
    )
    demb = tf.select("term").distinct().withColumn("demb", hash_embedding_col("term"))
    qemb = qt.select("qterm").distinct().withColumn("qemb", hash_embedding_col("qterm"))
    binc = _bin_col(hash_dot_col(F.col("qemb"), F.col("demb")))
    binned = demb.crossJoin(F.broadcast(qemb)).select(
        "term", "qterm", binc.alias("bin")
    )
    hist = pivot_reduce(
        tf,
        binned,
        qt,
        {
            f"h{b}": (lambda v, b=b: F.sum(F.when(v("bin") == b, F.col("tf")).otherwise(F.lit(0))))
            for b in range(NBINS)
        },
    )
    return (
        hist.join(F.broadcast(qt), "qterm")
        .groupBy("query_id", "doc_id")
        .agg(
            *[
                F.sum(
                    F.col("qtf")
                    * F.log(F.col(f"h{b}").cast("double") + F.lit(LOG_EPS))
                ).alias(f"phi{b}")
                for b in range(NBINS)
            ]
        )
    )


def score_col(weights: list[float], bias: float = 0.0) -> Column:
    """Linear combine over phi0..phiB-1 (the convex stand-in for
    cedr_drmm.py:33-34's 2-layer MLP)."""
    s = F.lit(bias)
    for b, w in enumerate(weights):
        s = s + F.lit(w) * F.col(f"phi{b}")
    return s


# ---------------------------------------------------------------------------
# DuckDB oracle fragments
# ---------------------------------------------------------------------------

def sql_histogram_features() -> str:
    """CTE chain computing the same φ features from the shared ``tf`` /
    ``qtf`` CTEs (see ``plans/entries.py`` SQL_TOK/SQL_QTOK)."""
    demb = sql_embedding_cte("(SELECT DISTINCT term FROM tf)")
    qemb = sql_embedding_cte("(SELECT DISTINCT term FROM qtf)")
    cos = sql_dot("de", "qe")
    hist_cols = ", ".join(
        f"sum(CASE WHEN p.bin = {b} THEN p.tf ELSE 0 END) AS h{b}"
        for b in range(NBINS)
    )
    phi_cols = ", ".join(
        f"sum(h.qtf * ln(CAST(h.h{b} AS DOUBLE) + {LOG_EPS})) AS phi{b}"
        for b in range(NBINS)
    )
    return f"""
demb AS (SELECT * FROM {demb}),
qemb AS (SELECT * FROM {qemb}),
hpairs AS (
  SELECT q.query_id, q.term AS qterm, q.qtf, f.doc_id, f.tf,
         CAST(floor(((({cos}) + {BIN_NUDGE}) / 2.0) * {float(NBINS - 1)}) AS INT) AS bin
  FROM tf f
  JOIN demb de ON f.term = de.term
  CROSS JOIN qtf q
  JOIN qemb qe ON q.term = qe.term
),
hhist AS (
  SELECT p.query_id, p.qterm, p.qtf, p.doc_id, {hist_cols}
  FROM hpairs p GROUP BY 1, 2, 3, 4
),
hphi AS (
  SELECT h.query_id, h.doc_id, {phi_cols}
  FROM hhist h GROUP BY 1, 2
)"""


# ---------------------------------------------------------------------------
# Arrow kernel form (scale path: no pair shuffle at all)
# ---------------------------------------------------------------------------

def drmm_score_batch(
    doc_tokens_lists, q_terms: list[str], q_tfs: np.ndarray, weights, bias=0.0
) -> np.ndarray:
    """Score a batch of docs against ONE query — pure numpy, called from
    a pandas UDF (mirror of ``knrm.knrm_score_batch``)."""
    qm = hash_embedding_np(q_terms)  # (Q, d)
    w = np.asarray(weights)
    empty_phi = np.log(LOG_EPS) * float(q_tfs.sum())
    out = np.empty(len(doc_tokens_lists))
    for i, toks in enumerate(doc_tokens_lists):
        if toks is None or len(toks) == 0:
            out[i] = float(np.full(NBINS, empty_phi) @ w + bias)
            continue
        terms, tfs = np.unique(np.asarray(toks, dtype=object), return_counts=True)
        dm = hash_embedding_np(terms)  # (D, d)
        cosm = qm @ dm.T  # (Q, D)
        bins = np.floor(((cosm + BIN_NUDGE) / 2.0) * float(NBINS - 1)).astype(int)
        onehot = bins[:, :, None] == np.arange(NBINS)[None, None, :]
        hist = (tfs[None, :, None] * onehot).sum(axis=1)  # (Q, B)
        phi = (q_tfs[:, None] * np.log(hist.astype(float) + LOG_EPS)).sum(axis=0)
        out[i] = float(phi @ w + bias)
    return out


# ---------------------------------------------------------------------------
# The model — the convex trainer is inherited from KNRM (identical
# pairwise-logistic problem over NBINS features)
# ---------------------------------------------------------------------------

@register("cedr_drmm")
class DRMM(KNRM):
    """DRMM head: NBINS histogram weights + bias; registry name matches
    the reference's (``cedr_drmm.py:17``). Training = the same convex
    pairwise-logistic ``fit_pairs`` as KNRM — the feature table shape
    is identical (NBINS pooled columns per candidate)."""

    def __init__(self, n_bins: int = NBINS):
        super().__init__(n_kernels=n_bins)
        self.n_bins = n_bins
        # start from top-bin (near-exact-match) emphasis
        self.w = np.zeros(n_bins)
        self.w[-1] = 1.0

    def model_args(self) -> dict:
        return {"n_bins": self.n_bins}
