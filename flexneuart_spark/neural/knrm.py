"""KNRM — kernel-pooled soft-TF matching (Xiong et al., SIGIR 2017),
the classic neural head the reference wires on top of BERT in CEDR
(``flexneuart/models/cedr/cedr_knrm.py:28-49``: RBF kernel bank over the
query×doc cosine matrix, sum over doc positions, log, sum over query
positions, linear combine).

With term embeddings fixed (hash or corpus-trained), KNRM's trainable
part is exactly the final linear layer over the K pooled kernel
features — so *feature extraction* is the distributed Spark job and
*training* is a tiny convex driver-side problem over a candidates-sized
feature table. That split is the 100 TB-correct shape: the corpus-sized
work is one join + two aggregations, the learned state is K+1 floats.

Kernel bank: the CEDR defaults (``cedr_knrm.py:28-29``) — ten RBF
kernels at μ = −0.9 … 0.9 (σ = 0.1) plus the exact-match kernel
(μ = 1.0, σ = 0.001).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
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
from flexneuart_spark.neural.pivot import pivot_reduce

# cedr_knrm.py:28-29
MUS = [-0.9, -0.7, -0.5, -0.3, -0.1, 0.1, 0.3, 0.5, 0.7, 0.9, 1.0]
SIGMAS = [0.1] * 10 + [0.001]
N_KERNELS = len(MUS)
LOG_FLOOR = 1e-10  # KNRM's soft-TF log clamp


# ---------------------------------------------------------------------------
# Distributed kernel-feature extraction (relational form)
# ---------------------------------------------------------------------------

def kernel_features(docs_tok: DataFrame, q_tok: DataFrame) -> DataFrame:
    """Per (query_id, doc_id): the K pooled kernel features ``phi_0..K-1``.

    Scale shape — the two KNRM reductions as groupBy aggregations:

      soft-TF:  k_k(qt, d) = Σ_{dt} tf(d, dt) · exp(−(cos−μ_k)²/2σ_k²)
      pooled:   φ_k(q, d)  = Σ_{qt} qtf · ln(max(k_k, 1e-10))

    The RBF kernel values depend ONLY on the (doc term, query term)
    pair, so all md5 hashing, cosines, and the 11 exp() evaluations run
    on the V×Q vocabulary table (broadcast nested-loop against the tiny
    distinct-query-term side), never on the O(corpus·Q) pair rows; the
    corpus-sized work is one equi-join on term + two partial-aggregated
    groupBys.

    The corpus-side join is the shared pivoted reduction
    (``neural/pivot.py``): the join output stays |tf| rows (never |tf|·Q)
    and the soft-TF reduction runs as Q·K map-side-combinable sums over
    one ``groupBy(doc_id)`` shuffle, with the long (doc_id, qterm)
    grouping as the fallback past the pivot's column budget (64 query
    terms at K = 11).
    """
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
    cosm = hash_dot_col(F.col("qemb"), F.col("demb"))
    kern = demb.crossJoin(F.broadcast(qemb)).select(
        "term",
        "qterm",
        *[
            F.exp(
                -((cosm - F.lit(mu)) * (cosm - F.lit(mu))) / F.lit(2.0 * sg * sg)
            ).alias(f"rbf{k}")
            for k, (mu, sg) in enumerate(zip(MUS, SIGMAS))
        ],
    )
    soft = pivot_reduce(
        tf,
        kern,
        qt,
        {f"k{k}": (lambda v, k=k: F.sum(F.col("tf") * v(f"rbf{k}"))) for k in range(N_KERNELS)},
    )
    return (
        soft.join(F.broadcast(qt), "qterm")
        .groupBy("query_id", "doc_id")
        .agg(
            *[
                F.sum(
                    F.col("qtf")
                    * F.log(F.greatest(F.col(f"k{k}"), F.lit(LOG_FLOOR)))
                ).alias(f"phi{k}")
                for k in range(N_KERNELS)
            ]
        )
    )


def score_col(weights: list[float], bias: float = 0.0) -> Column:
    """Linear combine over phi0..phiK-1 (cedr_knrm.py:49)."""
    s = F.lit(bias)
    for k, w in enumerate(weights):
        s = s + F.lit(w) * F.col(f"phi{k}")
    return s


# ---------------------------------------------------------------------------
# DuckDB oracle fragments
# ---------------------------------------------------------------------------

def sql_kernel_features() -> str:
    """CTE chain computing the same φ features from the shared ``tf`` /
    ``qtf`` CTEs (see ``plans/entries.py`` SQL_TOK/SQL_QTOK)."""
    demb = sql_embedding_cte("(SELECT DISTINCT term FROM tf)")
    qemb = sql_embedding_cte("(SELECT DISTINCT term FROM qtf)")
    cos = sql_dot("de", "qe")
    soft_cols = ", ".join(
        f"sum(p.tf * exp(-((p.cosm - ({mu})) * (p.cosm - ({mu}))) / {2.0 * sg * sg})) AS k{k}"
        for k, (mu, sg) in enumerate(zip(MUS, SIGMAS))
    )
    phi_cols = ", ".join(
        f"sum(s.qtf * ln(greatest(s.k{k}, {LOG_FLOOR}))) AS phi{k}"
        for k in range(N_KERNELS)
    )
    return f"""
demb AS (SELECT * FROM {demb}),
qemb AS (SELECT * FROM {qemb}),
kpairs AS (
  SELECT q.query_id, q.term AS qterm, q.qtf, f.doc_id, f.tf,
         ({cos}) AS cosm
  FROM tf f
  JOIN demb de ON f.term = de.term
  CROSS JOIN qtf q
  JOIN qemb qe ON q.term = qe.term
),
ksoft AS (
  SELECT p.query_id, p.qterm, p.qtf, p.doc_id, {soft_cols}
  FROM kpairs p GROUP BY 1, 2, 3, 4
),
kphi AS (
  SELECT s.query_id, s.doc_id, {phi_cols}
  FROM ksoft s GROUP BY 1, 2
)"""


# ---------------------------------------------------------------------------
# Arrow kernel form (scale path: no pair shuffle at all)
# ---------------------------------------------------------------------------

def knrm_score_batch(
    doc_tokens_lists, q_terms: list[str], q_tfs: np.ndarray, weights, bias=0.0
) -> np.ndarray:
    """Score a batch of docs against ONE query — pure numpy, called from
    a pandas UDF. The cosine matrix per doc is (|q| × |d_distinct|) tiny;
    embeddings are hashed on the fly (no vocab table, no join)."""
    qm = hash_embedding_np(q_terms)  # (Q, d)
    w = np.asarray(weights)
    mus = np.asarray(MUS)[None, None, :]
    sgs = np.asarray(SIGMAS)[None, None, :]
    out = np.empty(len(doc_tokens_lists))
    for i, toks in enumerate(doc_tokens_lists):
        if toks is None or len(toks) == 0:
            out[i] = float(np.dot(w, np.full(N_KERNELS, np.log(LOG_FLOOR))) + bias)
            continue
        terms, tfs = np.unique(np.asarray(toks, dtype=object), return_counts=True)
        dm = hash_embedding_np(terms)  # (D, d)
        cosm = qm @ dm.T  # (Q, D)
        rbf = np.exp(-((cosm[:, :, None] - mus) ** 2) / (2.0 * sgs**2))
        soft = (tfs[None, :, None] * rbf).sum(axis=1)  # (Q, K)
        phi = (q_tfs[:, None] * np.log(np.maximum(soft, LOG_FLOOR))).sum(axis=0)
        out[i] = float(phi @ w + bias)
    return out


# ---------------------------------------------------------------------------
# The model + convex trainer
# ---------------------------------------------------------------------------

@register("knrm")
class KNRM:
    """KNRM head: K kernel weights + bias, trained with the pairwise
    logistic loss over extracted features (the reference trains its heads
    with pairwise/CE losses — ``flexneuart/models/train/loss.py:63-80``).
    """

    def __init__(self, n_kernels: int = N_KERNELS):
        self.n_kernels = n_kernels
        self.w = np.zeros(n_kernels)
        self.w[-1] = 1.0  # start from exact-match emphasis
        self.b = 0.0
        self.max_query_len = 64
        self.max_doc_len = 8192

    def model_args(self) -> dict:
        return {"n_kernels": self.n_kernels}

    def weights(self):
        return {"w": self.w.tolist(), "b": self.b}

    def set_weights(self, wts) -> None:
        self.w = np.asarray(wts["w"], dtype=np.float64)
        self.b = float(wts["b"])

    def score_features(self, phi: np.ndarray) -> np.ndarray:
        return phi @ self.w + self.b

    def fit_pairs(
        self,
        phi_pos: np.ndarray,
        phi_neg: np.ndarray,
        epochs: int = 200,
        lr: float = 0.05,
        l2: float = 1e-4,
    ) -> list[float]:
        """Pairwise logistic regression on Δφ = φ(pos) − φ(neg):
        minimize Σ log(1 + exp(−(Δφ·w))) + λ|w|² — convex, full-batch
        gradient descent on the driver (the pair table is candidates-
        sized, never corpus-sized). Returns the loss trace."""
        d = np.asarray(phi_pos) - np.asarray(phi_neg)
        # standardize per-feature for conditioning; fold back afterwards.
        # Features whose delta is (near-)constant zero carry no pairwise
        # signal — dividing by their ~1e-9 scale would let float noise
        # dominate the problem, so they are dropped (weight 0).
        scale = np.abs(d).mean(axis=0)
        keep = scale > 1e-6 * max(scale.max(), 1e-12)
        ds = np.zeros_like(d)
        ds[:, keep] = d[:, keep] / scale[keep]
        w = np.zeros(self.n_kernels)
        trace = []
        for _ in range(epochs):
            z = ds @ w
            p = 1.0 / (1.0 + np.exp(np.clip(z, -30, 30)))  # σ(−z)
            loss = float(np.sum(np.log1p(np.exp(np.clip(-z, -30, 30)))) + l2 * w @ w)
            trace.append(loss)
            grad = -(ds * p[:, None]).sum(axis=0) + 2 * l2 * w
            w -= lr * grad / max(len(ds), 1)
        self.w = np.where(keep, w / np.where(keep, scale, 1.0), 0.0)
        self.b = 0.0
        return trace
