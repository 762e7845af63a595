"""Descriptor-driven experiment runner (SURVEY.md §2.11's workflow cap).

The reference orchestrates one experiment with
``scripts/exper/run_one_experiment.sh``: a descriptor JSON names an
extractor config + model family, then the pipeline runs candidate
retrieval (Lucene BM25) → feature extraction (the composite extractor,
``letor/FeatureExtractor.java:38-55`` built from a JSON list of
``{type, params}`` entries) → RankLib training (Coordinate Ascent by
default, LambdaMART with ``useLMART``) → reranking → trec_eval. This
module is that driver over the Spark-native pieces that already exist:

- retrieve:  ``search.engine.Searcher``        (K1-K3)
- features:  ``operators.features``            (§2.11 composite)
- train:     ``operators.coord_ascent`` / ``operators.lambdamart``
- rerank:    ``features.linear_rerank`` / ``ensemble_rerank``
- eval:      ``eval.evaluate``                 (A8)

Descriptor keys mirror the reference's experiment JSON
(e.g. ``scripts/data_convert/msmarco/exper_desc.lb2020-12-04/*.json``):
``experSubdir``, ``extrType`` (path to — or inline — the reference-shape
extractor list), ``useLMART`` (0/1), ``modelFinal`` (optional model
file for ``testOnly``), ``testOnly`` (0/1), ``candProvAddConfParam``
(path/dict with candidate-provider ``k1``/``b``), ``trainCandQty``,
``testCandQty``, ``metricType``.

Extractor-type mapping (reference → FEATURES registry):

=========================  ==========  =================================
reference ``type``          feature     params carried over
=========================  ==========  =================================
TFIDFSimilarity (bm25)      bm25        k1, b
TFIDFSimilarity (cosine)    cosine      —
TermMatchSimilarity         term_match  —
Model1Similarity            model1      lambda→lambda_, minModel1Prob→
                                        min_prob (needs ``tran=``)
BM25ClosePairSimilarity     close_pair  queryWindow, docWindow, k1, b
RM3Similarity               rm3         topDocQty, topTermQty,
                                        origWeight, k1, b
PassRetrScore               retr_score  useOrigRetrScore (cand run
                                        injected per split)
SDMSimilarity               sdm         lambdaT/O/U, window
DocDenseEmbedDotProd        biencoder   — (pooled dense dot)
DocSparseEmbedDotProd       bm25        — (BM25-as-dot, C9)
AvgWordEmbed                biencoder   — (pooled hash embeddings)
ExternalThrift              knrm/maxsim scorerType picks the in-process
                            /drmm       neural head (the Thrift feature
                                        server analogue)
=========================  ==========  =================================

``load_extractor_config`` / ``dump_extractor_config`` round-trip the
reference shape exactly (numeric params keep RankLib's string form,
``"0.05f"`` floats included), so a reference extractor JSON drops in
unchanged.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flexneuart_spark.config import BM25_B, BM25_K1

# ---------------------------------------------------------------------------
# extractor-config translation (reference JSON shape <-> FEATURES config)
# ---------------------------------------------------------------------------


def _num(s):
    """RankLib param literals: strings, often with a trailing Java
    ``f`` ("0.05f")."""
    if isinstance(s, (int, float)):
        return s
    txt = str(s).strip()
    if txt.lower().endswith("f"):
        txt = txt[:-1]
    return float(txt)


def load_extractor_config(src) -> list[dict]:
    """Reference extractor JSON (path, JSON string, or parsed list of
    ``{"type": ..., "params": {...}}``) → ``features.extract_features``
    config. Feature NAMES are ``f1..fm`` in list order — the same
    1-based id↔order contract RankLib models are saved with
    (``io/ranklib.weights_for_features``)."""
    if isinstance(src, str):
        if os.path.exists(src):
            with open(src, encoding="utf-8") as f:
                src = json.load(f)
        else:
            src = json.loads(src)
    out: list[dict] = []
    for i, entry in enumerate(src):
        typ = entry["type"]
        params = dict(entry.get("params", {}))
        name = f"f{i + 1}"
        if typ == "TFIDFSimilarity":
            simil = params.get("similType", "bm25")
            if simil == "bm25":
                conf = {"name": name, "feature": "bm25"}
                if "k1" in params:
                    conf["k1"] = _num(params["k1"])
                if "b" in params:
                    conf["b"] = _num(params["b"])
            elif simil == "cosine":
                conf = {"name": name, "feature": "cosine"}
            else:
                raise ValueError(f"extractor {i}: unknown similType {simil!r}")
        elif typ == "TermMatchSimilarity":
            conf = {"name": name, "feature": "term_match"}
        elif typ == "Model1Similarity":
            conf = {"name": name, "feature": "model1"}
            if "lambda" in params:
                conf["lambda_"] = _num(params["lambda"])
            if "minModel1Prob" in params:
                conf["min_prob"] = _num(params["minModel1Prob"])
        elif typ == "AvgWordEmbed":
            # FeatExtrWordEmbedSimilarity.java:40 — averaged word-embedding
            # inner product; served by the pooled bi-encoder head
            conf = {"name": name, "feature": "biencoder"}
        elif typ == "ExternalThrift":
            # FeatExtractorExternalApacheThrift.java:83 — the slot the
            # reference points at external neural scorers; here the
            # scorer runs in-process (Arrow pandas UDFs). ``scorerType``
            # picks the head: knrm (default) or maxsim.
            scorer = str(params.get("scorerType", "knrm"))
            if scorer not in ("knrm", "maxsim", "drmm"):
                raise ValueError(f"extractor {i}: unknown scorerType {scorer!r}")
            conf = {"name": name, "feature": scorer}
        elif typ == "SDMSimilarity":
            # FeatExtrSDMSimilarity.java:33-49 — optional lambdaT/O/U + window
            conf = {"name": name, "feature": "sdm"}
            for src_key, dst_key in (
                ("lambdaT", "lambda_t"),
                ("lambdaO", "lambda_o"),
                ("lambdaU", "lambda_u"),
                ("window", "window"),
            ):
                if src_key in params:
                    v = _num(params[src_key])
                    conf[dst_key] = int(v) if dst_key == "window" else v
        elif typ == "DocDenseEmbedDotProd":
            # FeatExtrDenseDocEmbedDotProdSimilarity.java:42 — dense
            # doc/query embedding inner product; served by the pooled
            # bi-encoder head (the in-engine dense-embedding store)
            conf = {"name": name, "feature": "biencoder"}
        elif typ == "DocSparseEmbedDotProd":
            # FeatExtrSparseDocEmbedDotProdSimilarity.java:42 — inner
            # product of getSparseVector() outputs, which the reference
            # builds from BM25 weights (C9 BM25-as-dot) — so the feature
            # value IS the BM25 score
            conf = {"name": name, "feature": "bm25"}
        elif typ == "PassRetrScore":
            # FeatExtrPassRetrScore.java:29-73 — the candidate run's own
            # score as a feature; run_experiment injects cand= per split
            conf = {"name": name, "feature": "retr_score"}
            if "useOrigRetrScore" in params:
                conf["use_orig"] = str(params["useOrigRetrScore"]).strip().lower() in ("1", "true")
        elif typ == "RM3Similarity":
            # FeatExtractorRM3Similarity.java:46-70 — required params
            # topDocQty/topTermQty/origWeight, optional k1/b
            conf = {"name": name, "feature": "rm3"}
            for src_key, dst_key in (
                ("topDocQty", "top_doc_qty"),
                ("topTermQty", "top_term_qty"),
                ("origWeight", "orig_weight"),
                ("k1", "k1"),
                ("b", "b"),
            ):
                if src_key in params:
                    v = _num(params[src_key])
                    conf[dst_key] = int(v) if dst_key.endswith("_qty") else v
        elif typ == "BM25ClosePairSimilarity":
            conf = {"name": name, "feature": "close_pair"}
            for src_key, dst_key in (
                ("queryWindow", "query_window"),
                ("docWindow", "doc_window"),
                ("k1", "k1"),
                ("b", "b"),
            ):
                if src_key in params:
                    v = _num(params[src_key])
                    conf[dst_key] = int(v) if dst_key.endswith("window") else v
        else:
            raise ValueError(f"extractor {i}: unknown type {typ!r}")
        if isinstance(params, dict) and params.get("indexFieldName"):
            # multi-field routing (SingleFieldFeatExtractor.java: each
            # extractor reads ONE named forward index)
            conf["_field"] = str(params["indexFieldName"])
        conf["_ref"] = entry  # verbatim original for the round-trip
        out.append(conf)
    return out


def dump_extractor_config(config: list[dict]) -> list[dict]:
    """FEATURES config → the reference's ``[{"type", "params"}]`` shape.
    Entries loaded by :func:`load_extractor_config` round-trip VERBATIM
    (the original dict is carried in ``_ref``); hand-built configs are
    re-encoded from their params."""
    out = []
    for conf in config:
        if "_ref" in conf:
            out.append(conf["_ref"])
            continue
        feat = conf["feature"]
        if feat == "bm25":
            params = {"similType": "bm25", "indexFieldName": "text"}
            if "k1" in conf:
                params["k1"] = str(conf["k1"])
            if "b" in conf:
                params["b"] = str(conf["b"])
            out.append({"type": "TFIDFSimilarity", "params": params})
        elif feat == "cosine":
            out.append(
                {"type": "TFIDFSimilarity", "params": {"similType": "cosine", "indexFieldName": "text"}}
            )
        elif feat == "term_match":
            out.append({"type": "TermMatchSimilarity", "params": {"indexFieldName": "text"}})
        elif feat == "model1":
            params = {}
            if "lambda_" in conf:
                params["lambda"] = f"{conf['lambda_']}f"
            if "min_prob" in conf:
                params["minModel1Prob"] = f"{conf['min_prob']}f"
            out.append({"type": "Model1Similarity", "params": params})
        elif feat == "close_pair":
            params = {}
            if "query_window" in conf:
                params["queryWindow"] = str(conf["query_window"])
            if "doc_window" in conf:
                params["docWindow"] = str(conf["doc_window"])
            if "k1" in conf:
                params["k1"] = str(conf["k1"])
            if "b" in conf:
                params["b"] = str(conf["b"])
            out.append({"type": "BM25ClosePairSimilarity", "params": params})
        elif feat == "biencoder":
            out.append({"type": "AvgWordEmbed", "params": {"indexFieldName": "text"}})
        elif feat == "sdm":
            params = {"indexFieldName": "text"}
            for dst_key, src_key in (
                ("lambdaT", "lambda_t"),
                ("lambdaO", "lambda_o"),
                ("lambdaU", "lambda_u"),
                ("window", "window"),
            ):
                if src_key in conf:
                    params[dst_key] = str(conf[src_key])
            out.append({"type": "SDMSimilarity", "params": params})
        elif feat == "retr_score":
            params = {}
            if "use_orig" in conf:
                params["useOrigRetrScore"] = "true" if conf["use_orig"] else "false"
            out.append({"type": "PassRetrScore", "params": params})
        elif feat == "rm3":
            params = {"indexFieldName": "text"}
            for dst_key, src_key in (
                ("topDocQty", "top_doc_qty"),
                ("topTermQty", "top_term_qty"),
                ("origWeight", "orig_weight"),
                ("k1", "k1"),
                ("b", "b"),
            ):
                if src_key in conf:
                    params[dst_key] = str(conf[src_key])
            out.append({"type": "RM3Similarity", "params": params})
        elif feat in ("knrm", "maxsim", "drmm"):
            out.append({"type": "ExternalThrift", "params": {"scorerType": feat}})
        else:
            raise ValueError(f"unknown feature {feat!r}")
    return out


def _strip_ref(config: list[dict]) -> list[dict]:
    return [{k: v for k, v in c.items() if k != "_ref"} for c in config]


# ---------------------------------------------------------------------------
# experiment driver
# ---------------------------------------------------------------------------


def _load_json_maybe(src, default=None):
    if src is None:
        return default
    if isinstance(src, dict):
        return src
    with open(src, encoding="utf-8") as f:
        return json.load(f)


def run_experiment(
    spark: SparkSession,
    descriptor,
    *,
    index,
    train_queries: list[tuple[str, str]],
    test_queries: list[tuple[str, str]],
    qrels: DataFrame,
    out_dir: str,
    tran: DataFrame | None = None,
    seed: int = 42,
    base_dir: str | None = None,
) -> dict:
    """One experiment, the ``run_one_experiment.sh`` stage order.

    ``descriptor``: path or dict in the reference's experiment-JSON
    shape — including the ``gen_desc`` generators' output
    (``extrTypeFinal`` accepted as an alias of ``extrType``; pass
    ``base_dir=`` to resolve their collection-relative
    extractor/model/candidate-config paths). ``index``: an
    ``IndexTables`` (or index dir) for the
    candidate provider AND the forward index that features are computed
    from (the reference extracts features from the same collection's
    forward index) — or a ``{field: IndexTables|dir}`` dict for
    multi-field collections: each extractor then reads the field its
    ``indexFieldName`` names (SingleFieldFeatExtractor semantics),
    candidates retrieve from ``candFieldName`` (descriptor key, default
    ``"text"``). Each field's queries are tokenized with the tokenizer
    its own index records (e.g. a krovetz-stemmed field).
    ``qrels``: (query_id, doc_id, grade).

    Returns ``{"run": fused test run, "baseline_run": BM25-only run,
    "metrics": ..., "baseline_metrics": ..., "model": ...,
    "model_path": ...}``; the fused run + model land under
    ``out_dir/<experSubdir>``.
    """
    from flexneuart_spark.index.builder import IndexTables, merged_stats
    from flexneuart_spark.io.ranklib import (
        load_ranklib_ensemble,
        load_ranklib_linear,
        weights_for_features,
        write_ranklib_linear,
    )
    from flexneuart_spark.io.trec import write_run
    from flexneuart_spark.eval import evaluate
    from flexneuart_spark.functions.tokenize import TOKENIZERS
    from flexneuart_spark.operators.features import (
        ensemble_rerank,
        extract_features,
        linear_rerank,
    )
    from flexneuart_spark.search.engine import Searcher

    desc = _load_json_maybe(descriptor)
    if isinstance(desc, list):  # the reference wraps one descriptor in a list
        desc = desc[0]

    def _resolve(p):
        """gen_exper_desc descriptors carry paths relative to the
        collection dir (REL_DESC_PATH_PARAM); resolve against base_dir."""
        if base_dir is not None and isinstance(p, str) and not os.path.isabs(p) and not p.lstrip().startswith(("[", "{")):
            return os.path.join(base_dir, p)
        return p

    # extrTypeFinal is the gen_exper_desc spelling (utils.py:23) of the
    # same key run_experiments.sh passes as extrType
    extr_src = desc.get("extrType", desc.get("extrTypeFinal"))
    if extr_src is None:
        raise ValueError("descriptor needs extrType / extrTypeFinal")
    extr_config = load_extractor_config(_resolve(extr_src))
    cand_conf = _load_json_maybe(
        _resolve(desc.get("candProvAddConfParam", desc.get("candProvAddConf"))), {}
    )
    k1 = _num(cand_conf.get("k1", BM25_K1))
    b = _num(cand_conf.get("b", BM25_B))
    use_lmart = bool(int(desc.get("useLMART", 0)))
    test_only = bool(int(desc.get("testOnly", 0)))
    train_cand_qty = int(desc.get("trainCandQty", 20))
    test_cand_qty = int(desc.get("testCandQty", 10))
    metric = str(desc.get("metricType", "map")).lower()

    exp_dir = os.path.join(out_dir, desc.get("experSubdir", "exper"))
    os.makedirs(exp_dir, exist_ok=True)

    # ---- field routing (the reference keeps ONE forward index per field;
    # each SingleFieldFeatExtractor reads the field its config names) ----
    if isinstance(index, dict):
        tables_by_field = {
            f: (t if isinstance(t, IndexTables) else IndexTables(t)) for f, t in index.items()
        }
        cand_field = str(
            desc.get(
                "candFieldName",
                "text" if "text" in tables_by_field else next(iter(tables_by_field)),
            )
        )
        if cand_field not in tables_by_field:
            raise ValueError(f"candFieldName {cand_field!r} not among index fields "
                             f"{sorted(tables_by_field)}")
    else:
        cand_field = "text"
        tables_by_field = {cand_field: index if isinstance(index, IndexTables) else IndexTables(index)}
    tables = tables_by_field[cand_field]
    tok_by_field = {f: TOKENIZERS[merged_stats(spark, [t])[2]] for f, t in tables_by_field.items()}
    searcher = Searcher(spark, tables, k1=k1, b=b)
    docs_by_field = {f: t.fwd(spark).select("doc_id", "tokens") for f, t in tables_by_field.items()}

    names = [c["name"] for c in extr_config]
    feats_config = _strip_ref(extr_config)
    if isinstance(index, dict):
        field_of = [c.pop("_field", None) or cand_field for c in feats_config]
        for f in field_of:
            if f not in tables_by_field:
                raise ValueError(
                    f"extractor references indexFieldName {f!r} but run_experiment "
                    f"got indexes for {sorted(tables_by_field)}"
                )
    else:
        # single-index collection: every extractor reads it regardless of
        # the config's indexFieldName spelling (pre-multi-field behavior)
        for c in feats_config:
            c.pop("_field", None)
        field_of = [cand_field] * len(feats_config)
    for conf in feats_config:
        if conf["feature"] == "model1":
            if tran is None:
                raise ValueError("descriptor uses Model1Similarity: pass tran=")
            conf["tran"] = tran

    def _features_for(
        queries: list[tuple[str, str]], cand: DataFrame, cand_k: int
    ) -> DataFrame:
        frames = []

        def _split_conf(c):
            # PassRetrScore reads the candidate run itself — inject this
            # split's cand (train and test runs differ); RM3's internal
            # pseudo-relevance pool defaults to the split's candidate
            # depth AND the candidate provider's k1/b, so its internal
            # BM25 ranks like the provider and the pool covers every
            # candidate the model reranks (the reference extractor
            # scores the candidate list it is handed; explicit
            # descriptor params still win). Residual divergence: an RM3
            # extractor reading a different field than candFieldName
            # ranks by that field's statistics, so provider-boundary
            # candidates can still fall outside its pool (scored 0 by
            # the candidate left-join, the extractor default).
            if c["feature"] == "retr_score":
                return dict(c, cand=cand)
            if c["feature"] == "rm3":
                c = dict(c)
                c.setdefault("cand_qty", cand_k)
                c.setdefault("k1", k1)
                c.setdefault("b", b)
                return c
            return c

        for field in dict.fromkeys(field_of):  # unique, insertion-ordered
            confs = [
                _split_conf(c)
                for c, cf in zip(feats_config, field_of)
                if cf == field
            ]
            tok_f = tok_by_field[field]
            q_tok = spark.createDataFrame(
                [(qid, tok_f(text)) for qid, text in queries],
                "query_id string, tokens array<string>",
            )
            frames.append(extract_features(docs_by_field[field], q_tok, confs))
        feats = frames[0]
        for fr in frames[1:]:
            feats = feats.join(fr, ["query_id", "doc_id"], "full")
        # the reference extracts features for the CANDIDATE list only, and a
        # candidate no extractor scored keeps its row with the extractor zero
        # default (initResultSet) — a left join from the candidate pairs, not
        # a semi-join into the feature rows, or a single-feature config whose
        # internal pool misses a candidate would DROP it from the fused run
        return (
            cand.select("query_id", "doc_id")
            .join(feats, ["query_id", "doc_id"], "left")
            .fillna({n: 0.0 for n in names})
        )

    # ---- candidate provision (BM25, the Lucene provider analogue) ----
    test_cand = searcher.search(test_queries, k=test_cand_qty)
    baseline_metrics = evaluate(test_cand, qrels)

    # ---- model: train (CA default / LambdaMART) or load modelFinal ----
    model_path = os.path.join(exp_dir, "out.model")
    if test_only:
        if not desc.get("modelFinal"):
            raise ValueError("testOnly without modelFinal")
        model_path = _resolve(desc["modelFinal"])
        if use_lmart:
            model = load_ranklib_ensemble(model_path)
        else:
            mw, _ = load_ranklib_linear(model_path)
            model = weights_for_features(mw, names)
    else:
        train_cand = searcher.search(train_queries, k=train_cand_qty)
        train_feats = _features_for(train_queries, train_cand, train_cand_qty).join(
            qrels.select("query_id", "doc_id", "grade"), ["query_id", "doc_id"], "left"
        ).fillna({"grade": 0})
        if use_lmart:
            from flexneuart_spark.operators.lambdamart import (
                lambdamart_train,
                write_ranklib_ensemble,
            )

            lm_kw = {}
            if "numTrees" in desc:  # -num_trees passthrough
                lm_kw["n_trees"] = int(desc["numTrees"])
            model = lambdamart_train(train_feats, names, k=train_cand_qty, **lm_kw)
            write_ranklib_ensemble(model, model_path)
        else:
            from flexneuart_spark.operators.coord_ascent import coord_ascent_train

            ca_kw = {}
            if "numRandRestart" in desc:  # -num_rand_restart passthrough
                ca_kw["n_restart"] = int(desc["numRandRestart"])
            model, _best = coord_ascent_train(
                train_feats, names, metric=metric, k=train_cand_qty, seed=seed, **ca_kw
            )
            write_ranklib_linear(
                [model[n] for n in names], model_path, headers={"metric": metric}
            )

    # ---- rerank the test candidates with the trained model ----
    test_feats = _features_for(test_queries, test_cand, test_cand_qty)
    if use_lmart:
        run = ensemble_rerank(test_feats, model, names, k=test_cand_qty)
    else:
        run = linear_rerank(test_feats, model, k=test_cand_qty)
    metrics = evaluate(run, qrels)
    write_run(run, os.path.join(exp_dir, "fused.run"), run_id=desc.get("experSubdir", "exper"))

    return {
        "run": run,
        "baseline_run": test_cand,
        "metrics": metrics,
        "baseline_metrics": baseline_metrics,
        "model": model,
        "model_path": model_path,
    }
