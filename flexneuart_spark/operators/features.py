"""Composite feature extraction + linear fusion (SURVEY.md §2.11).

The reference assembles per-field similarity scorers into a dense feature
vector from a JSON config (``letor/FeatureExtractor.java:38-55``,
``resources/CompositeFeatureExtractor.java``) and fuses them with a
linear model (RankLib dot product — ``apps/BaseQueryApp.java:85-119``
intermediate rerank). Spark restatement: each feature is a relational
(query_id, doc_id, score) frame; the composite is a full outer join with
0-fill (a candidate missing from one scorer contributes 0, like the
reference's sparse feature vectors), and the linear model is a weighted
column sum.

Feature registry (each ``fn(docs_tok, q_tok, **params)``):

- ``bm25``       — C1 (k1/b configurable: the reference's per-field BM25
  extractors, ``letor/FeatExtrTFIDFSimilarity``)
- ``term_match`` — C6 (#shared distinct terms / #query distinct terms,
  ``simil_func/TermMatchSimilarity.java:30-50``)
- ``model1``     — C7 (pass ``tran=<translation DataFrame>``)
- ``cosine``     — C5 (``FeatExtrTFIDFSimilarity`` with similType=cosine)
- ``close_pair`` — C3 (``FeatExtrBM25ClosePairSimilarity``)
- ``sdm``        — C4 (``FeatExtrSDMSimilarity``)

``close_pair`` and ``sdm`` score with index search's close-pair core
(``search/proximity.close_pair_frame``; the reference's extractor reuses
its similarity's ``compute`` too), over ``docs_tok``'s idf and avgdl.
Rankers end in the shared run tail (``io/trec.rank_run``).

The descriptor-driven experiment runner over this registry (the
``run_one_experiment.sh`` workflow) lives in ``flexneuart_spark/exper.py``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flexneuart_spark.config import BM25_B, BM25_K1
from flexneuart_spark.io.trec import rank_run


def _feat_bm25(docs_tok: DataFrame, q_tok: DataFrame, k1: float = BM25_K1, b: float = BM25_B) -> DataFrame:
    from flexneuart_spark.search.bm25 import bm25_score_relational

    return bm25_score_relational(docs_tok, q_tok, k1=k1, b=b)


def _feat_term_match(docs_tok: DataFrame, q_tok: DataFrame) -> DataFrame:
    dterms = docs_tok.select("doc_id", F.explode(F.array_distinct("tokens")).alias("term"))
    qterms = q_tok.select("query_id", F.explode(F.array_distinct("tokens")).alias("term"))
    qsize = qterms.groupBy("query_id").agg(F.count("*").alias("qn"))
    return (
        dterms.join(F.broadcast(qterms), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.count("*").alias("matched"))
        .join(F.broadcast(qsize), "query_id")
        .select("query_id", "doc_id", (F.col("matched") / F.col("qn")).alias("score"))
    )


def _feat_model1(docs_tok: DataFrame, q_tok: DataFrame, tran: DataFrame = None, **kw) -> DataFrame:
    from flexneuart_spark.operators.model1 import model1_scores

    if tran is None:
        raise ValueError("model1 feature needs tran=<translation DataFrame>")
    return model1_scores(docs_tok, q_tok, tran, **kw)


def _feat_cosine(docs_tok: DataFrame, q_tok: DataFrame) -> DataFrame:
    """C5 tf·idf cosine as a feature (FeatExtrTFIDFSimilarity with
    ``similType=cosine``): idf = ln(1 + (N - df + 0.5)/(df + 0.5)) over
    the given doc universe, score = dot/(|d|·|q|)."""
    tf = (
        docs_tok.select("doc_id", F.explode("tokens").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    n_docs = docs_tok.count()
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = F.log(
        F.lit(1.0) + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    dw = tf.join(dfreq, "term").withColumn("w", F.col("tf") * idf).select("doc_id", "term", "w")
    dnorm = dw.groupBy("doc_id").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("dnorm"))
    qtf = (
        q_tok.select("query_id", F.explode("tokens").alias("term"))
        .groupBy("query_id", "term")
        .agg(F.count("*").alias("qtf"))
    )
    qw = (
        qtf.join(dfreq, "term")
        .withColumn("qw", F.col("qtf") * idf)
        .select("query_id", "term", "qw")
    )
    qnorm = qw.groupBy("query_id").agg(F.sqrt(F.sum(F.col("qw") * F.col("qw"))).alias("qnorm"))
    dot = (
        dw.join(F.broadcast(qw), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.sum(F.col("w") * F.col("qw")).alias("dot"))
    )
    return (
        dot.join(dnorm, "doc_id")
        .join(F.broadcast(qnorm), "query_id")
        .select(
            "query_id", "doc_id", (F.col("dot") / (F.col("dnorm") * F.col("qnorm"))).alias("score")
        )
    )


def _close_pair(
    docs_tok: DataFrame,
    q_tok: DataFrame,
    modes: list[tuple[str, bool]],
    query_window: int,
    doc_window: int,
    k1: float,
    b: float,
) -> DataFrame:
    """The one close-pair core (``search/proximity.close_pair_frame``)
    over the ``docs_tok`` universe's own statistics: idf of every query
    term it holds (the builder's :func:`bm25_idf`) and its mean length."""
    import numpy as np

    from flexneuart_spark.index.builder import bm25_idf
    from flexneuart_spark.search.proximity import close_pair_frame

    stats = docs_tok.select(F.size("tokens").alias("dl")).agg(
        F.count("*").alias("n"), F.avg("dl").alias("avgdl")
    ).collect()[0]
    qterms = q_tok.select(F.explode("tokens").alias("term")).distinct()
    dfreq = (
        docs_tok.select(F.explode(F.array_distinct("tokens")).alias("term"))
        .join(F.broadcast(qterms), "term")
        .groupBy("term")
        .agg(F.count("*").alias("df"))
        .collect()
    )
    idf = bm25_idf(int(stats.n), np.array([r.df for r in dfreq], dtype=np.float64))
    return close_pair_frame(
        docs_tok, q_tok, modes, dict(zip([r.term for r in dfreq], idf.tolist())),
        float(stats.avgdl or 1.0), query_window, doc_window, k1, b,
    )


def _feat_close_pair(
    docs_tok: DataFrame,
    q_tok: DataFrame,
    query_window: int = 4,
    doc_window: int = 8,
    ordered: bool = True,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """C3 close-pair proximity as a feature
    (``FeatExtrBM25ClosePairSimilarity``): see :func:`_close_pair`."""
    return _close_pair(docs_tok, q_tok, [("score", ordered)], query_window, doc_window, k1, b)


def _feat_maxsim(docs_tok: DataFrame, q_tok: DataFrame) -> DataFrame:
    """ColBERT-style late-interaction MaxSim over hash embeddings as a
    fusion feature (the CEDR pattern — a neural matching score fused
    with the classic features; ``flexneuart_spark.neural``)."""
    from flexneuart_spark.neural.late_interaction import maxsim_scores

    return maxsim_scores(docs_tok, q_tok)


def _feat_knrm(docs_tok: DataFrame, q_tok: DataFrame, weights=None, bias: float = 0.0) -> DataFrame:
    """KNRM kernel-pooled score as a fusion feature; ``weights`` defaults
    to the committed entry weights (``plans/entries_neural.KNRM_W``)."""
    from flexneuart_spark.neural.knrm import kernel_features, score_col

    if weights is None:
        from flexneuart_spark.plans.entries_neural import KNRM_W as weights
    phi = kernel_features(docs_tok, q_tok)
    return phi.select("query_id", "doc_id", score_col(list(weights), bias).alias("score"))


def _feat_drmm(docs_tok: DataFrame, q_tok: DataFrame, weights=None, bias: float = 0.0) -> DataFrame:
    """DRMM matching-histogram score as a fusion feature; ``weights``
    defaults to the committed entry weights
    (``plans/entries_neural.DRMM_W``)."""
    from flexneuart_spark.neural.drmm import histogram_features, score_col

    if weights is None:
        from flexneuart_spark.plans.entries_neural import DRMM_W as weights
    phi = histogram_features(docs_tok, q_tok)
    return phi.select("query_id", "doc_id", score_col(list(weights), bias).alias("score"))


def _feat_rm3(
    docs_tok: DataFrame,
    q_tok: DataFrame,
    k1: float = BM25_K1,
    b: float = BM25_B,
    cand_qty: int = 20,
    top_doc_qty: int = 3,
    top_term_qty: int = 10,
    orig_weight: float = 0.5,
    accumulate: bool = True,
) -> DataFrame:
    """RM3 pseudo-relevance-feedback score
    (FeatExtractorRM3Similarity.java — see search/rm3.py). Docs outside
    the internal candidate pool get the extractor's zero default
    (initResultSet) via run_experiment's candidate-left-join 0-fill."""
    from flexneuart_spark.search.rm3 import rm3_rescore

    return rm3_rescore(
        docs_tok,
        q_tok,
        k1=k1,
        b=b,
        cand_qty=cand_qty,
        top_doc_qty=top_doc_qty,
        top_term_qty=top_term_qty,
        orig_weight=orig_weight,
        accumulate=accumulate,
    ).select("query_id", "doc_id", F.col("rm3_score").alias("score"))


def _feat_sdm(
    docs_tok: DataFrame,
    q_tok: DataFrame,
    lambda_t: float = 0.5,
    lambda_o: float = 0.2,
    lambda_u: float = 0.3,
    window: int = 8,
    query_window: int = 4,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """C4 Sequential Dependence Model as a feature
    (``FeatExtrSDMSimilarity.java:33-49`` / ``SDMSimilarityAnserini``,
    defaults λT=0.5, λO=0.2, λU=0.3, window=8): weighted combination of
    the unigram BM25 and the ordered/unordered close-pair components —
    the feature twin of ``search/proximity.sdm_topk``, combined by the
    same ``sdm_combine`` (missing components contribute 0)."""
    from flexneuart_spark.search.proximity import sdm_combine

    uni = _feat_bm25(docs_tok, q_tok, k1=k1, b=b).select(
        "query_id", "doc_id", F.col("score").alias("s_uni")
    )
    # ordered + unordered in ONE candidate scan / pandas pass
    prox = _close_pair(docs_tok, q_tok, [("s_ord", True), ("s_unord", False)], query_window, window, k1, b)
    return sdm_combine([uni, prox], {"s_uni": lambda_t, "s_ord": lambda_o, "s_unord": lambda_u})


def _feat_retr_score(
    docs_tok: DataFrame, q_tok: DataFrame, cand: DataFrame = None, use_orig: bool = False
) -> DataFrame:
    """Candidate-provider retrieval score as a feature
    (FeatExtrPassRetrScore.java:29-73: ``useOrigRetrScore`` picks
    ``mOrigScore`` — the provider's score before any intermediate
    re-ranker — over ``mScore``). ``cand``: the candidate run
    (query_id, doc_id, score[, orig_score])."""
    if cand is None:
        raise ValueError("retr_score feature needs cand=<candidate run DataFrame>")
    col = "orig_score" if use_orig and "orig_score" in cand.columns else "score"
    return cand.select("query_id", "doc_id", F.col(col).cast("double").alias("score"))


def _feat_biencoder(docs_tok: DataFrame, q_tok: DataFrame) -> DataFrame:
    """Mean-pooled embedding similarity — the in-engine analogue of the
    reference's averaged-word-embedding extractor
    (``FeatExtrWordEmbedSimilarity.java:40`` — EXTR_TYPE ``AvgWordEmbed``)."""
    from flexneuart_spark.neural.biencoder import biencoder_scores

    return biencoder_scores(docs_tok, q_tok)


FEATURES: dict[str, Callable[..., DataFrame]] = {
    "bm25": _feat_bm25,
    "term_match": _feat_term_match,
    "model1": _feat_model1,
    "cosine": _feat_cosine,
    "close_pair": _feat_close_pair,
    "maxsim": _feat_maxsim,
    "knrm": _feat_knrm,
    "drmm": _feat_drmm,
    "biencoder": _feat_biencoder,
    "rm3": _feat_rm3,
    "retr_score": _feat_retr_score,
    "sdm": _feat_sdm,
}


def extract_features(docs_tok: DataFrame, q_tok: DataFrame, config: list[dict]) -> DataFrame:
    """config: ``[{"name": "f_bm25", "feature": "bm25", ...params}, ...]``
    → (query_id, doc_id, <name> double ...), outer-joined, 0-filled."""
    out = None
    for i, stage in enumerate(config):
        conf = dict(stage)
        name = conf.pop("name")
        feat = conf.pop("feature")
        if feat not in FEATURES:
            raise ValueError(f"feature {i}: unknown {feat!r} (known: {sorted(FEATURES)})")
        f = FEATURES[feat](docs_tok, q_tok, **conf).select(
            "query_id", "doc_id", F.col("score").alias(name)
        )
        out = f if out is None else out.join(f, ["query_id", "doc_id"], "full")
    if out is None:
        raise ValueError("empty feature config")
    names = [c for c in out.columns if c not in ("query_id", "doc_id")]
    return out.fillna({n: 0.0 for n in names})


def linear_rerank(features: DataFrame, weights: dict[str, float], k: int = 10) -> DataFrame:
    """RankLib-linear-model analogue: score = Σ w_f · feature_f, global
    top-k per query under the (score desc, doc_id desc) tie rule."""
    score = None
    for name, w in weights.items():
        term = F.lit(float(w)) * F.col(name)
        score = term if score is None else score + term
    return rank_run(features.withColumn("score", score), k)


def ensemble_rerank(features: DataFrame, ensemble, feature_names: list[str], k: int = 10) -> DataFrame:
    """RankLib tree-ensemble (LambdaMART/MART) rerank: score each
    candidate with ``io/ranklib.py::TreeEnsemble`` — Σ weight·tree(x),
    descend left iff value <= threshold (Ensemble.java:113-118,
    Split.java:120-131) — then global top-k per query under the
    (score desc, doc_id desc) tie rule.

    ``feature_names[i]`` is the column holding RankLib feature id i+1
    (the same id↔config-order mapping as ``weights_for_features``).
    Scoring is ONE Arrow-batched pandas UDF: the flattened tree arrays
    ship once per executor and each batch is a vectorized numpy walk —
    no per-row Python, no shuffle beyond the final per-query window."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType

    max_fid = max(ensemble.feature_ids, default=0)
    if max_fid > len(feature_names):
        raise ValueError(
            f"model references feature id {max_fid} but only "
            f"{len(feature_names)} feature columns were provided"
        )
    trees = ensemble.trees  # picklable (numpy arrays), closed over once

    def _score(*cols):
        from flexneuart_spark.io.ranklib import TreeEnsemble

        X = np.column_stack([c.to_numpy(dtype=np.float64) for c in cols])
        return pd.Series(TreeEnsemble(trees).eval_matrix(X))

    # variadic signature → register explicitly (type hints don't support *args)
    score_udf = F.pandas_udf(_score, DoubleType())
    return rank_run(features.withColumn("score", score_udf(*[F.col(n) for n in feature_names])), k)
