"""Descriptor-driven experiment runner (flexneuart_spark/exper.py) vs
the reference workflow shape (scripts/exper/run_one_experiment.sh over
letor/FeatureExtractor.java extractor configs):

- the reference's extractor-config JSON round-trips verbatim;
- the full retrieve → features → train (CA / LambdaMART) → rerank →
  eval pipeline runs end-to-end and the FUSED run beats the BM25-only
  candidate run on MAP;
- the written RankLib model reloads via testOnly/modelFinal and
  reproduces the fused run exactly.
"""

from __future__ import annotations

import json

import pytest

from flexneuart_spark import exper as E

# the reference's extractor shape (modeled on
# exper_desc.lb2020-12-04/extractors/*.json)
REF_EXTRACTORS = [
    {
        "type": "TFIDFSimilarity",
        "params": {"k1": "1.6", "b": "0.75", "indexFieldName": "text", "similType": "bm25"},
    },
    {"type": "TFIDFSimilarity", "params": {"indexFieldName": "text", "similType": "cosine"}},
    {"type": "TermMatchSimilarity", "params": {"queryFieldName": "text", "indexFieldName": "text"}},
    {
        "type": "BM25ClosePairSimilarity",
        "params": {"queryWindow": "4", "docWindow": "8", "k1": "1.6", "b": "0.75"},
    },
    {
        "type": "Model1Similarity",
        "params": {"lambda": "0.1f", "minModel1Prob": "5e-4f", "gizaIterQty": "5"},
    },
]


def test_extractor_config_roundtrip(tmp_path):
    p = tmp_path / "extr.json"
    p.write_text(json.dumps(REF_EXTRACTORS))
    config = E.load_extractor_config(str(p))
    # translated params (RankLib "0.05f" floats included)
    assert [c["feature"] for c in config] == [
        "bm25", "cosine", "term_match", "close_pair", "model1",
    ]
    assert config[0]["k1"] == 1.6 and config[0]["b"] == 0.75
    assert config[3]["query_window"] == 4 and config[3]["doc_window"] == 8
    assert config[4]["lambda_"] == pytest.approx(0.1)
    assert config[4]["min_prob"] == pytest.approx(5e-4)
    # names are the RankLib 1-based id contract
    assert [c["name"] for c in config] == ["f1", "f2", "f3", "f4", "f5"]
    # and the reference shape comes back VERBATIM
    assert E.dump_extractor_config(config) == REF_EXTRACTORS


def test_extractor_config_neural_types(tmp_path):
    """AvgWordEmbed → biencoder, ExternalThrift → the in-process neural
    heads (FeatExtrWordEmbedSimilarity.java:40,
    FeatExtractorExternalApacheThrift.java:83)."""
    ref = [
        {"type": "AvgWordEmbed", "params": {"indexFieldName": "text"}},
        {"type": "ExternalThrift", "params": {"scorerType": "maxsim"}},
        {"type": "ExternalThrift", "params": {}},  # default scorer: knrm
        {"type": "ExternalThrift", "params": {"scorerType": "drmm"}},
    ]
    config = E.load_extractor_config(json.dumps(ref))
    assert [c["feature"] for c in config] == ["biencoder", "maxsim", "knrm", "drmm"]
    assert E.dump_extractor_config(config) == ref
    # hand-built configs re-encode to the reference names
    rt = E.dump_extractor_config(
        [{"name": "f1", "feature": "knrm"}, {"name": "f2", "feature": "biencoder"}]
    )
    assert rt[0] == {"type": "ExternalThrift", "params": {"scorerType": "knrm"}}
    assert rt[1]["type"] == "AvgWordEmbed"
    with pytest.raises(ValueError, match="scorerType"):
        E.load_extractor_config(
            json.dumps([{"type": "ExternalThrift", "params": {"scorerType": "bert"}}])
        )


def test_dump_hand_built_config():
    config = [
        {"name": "f1", "feature": "bm25", "k1": 1.2, "b": 0.75},
        {"name": "f2", "feature": "term_match"},
    ]
    ref = E.dump_extractor_config(config)
    assert ref[0]["type"] == "TFIDFSimilarity" and ref[0]["params"]["similType"] == "bm25"
    assert ref[1]["type"] == "TermMatchSimilarity"
    # and it reloads to the same features
    again = E.load_extractor_config(json.dumps(ref))
    assert [c["feature"] for c in again] == ["bm25", "term_match"]


# ---------------------------------------------------------------------------
# e2e: fused run beats BM25-only on MAP
# ---------------------------------------------------------------------------
#
# Deterministic collection where BM25 alone misranks: for each query
# (qa_i qb_i qc_i), the RELEVANT doc holds all three terms once (with an
# adjacent qa_i qb_i pair) while the DISTRACTOR repeats two terms many
# times — tf saturation pushes its BM25 sum past the relevant doc's, but
# term_match (3/3 vs 2/3) and the ordered close-pair feature separate
# them cleanly, so trained fusion weights fix the ranking.

FILLER = "the quick brown fox jumps over lazy dogs near banks of rivers"


def _collection(n_queries: int):
    docs, queries, qrels = [], [], []
    for i in range(n_queries):
        qa, qb, qc = f"alpha{i}", f"beta{i}", f"gamma{i}"
        queries.append((f"q{i}", f"{qa} {qb} {qc}"))
        docs.append((f"R{i}", f"{qa} {qb} {qc} {FILLER}"))
        docs.append((f"D{i}", " ".join([qa, qb] * 6) + " " + FILLER))
        qrels.append((f"q{i}", f"R{i}", 1))
        qrels.append((f"q{i}", f"D{i}", 0))
    # background docs so idf/df stats aren't degenerate
    for j in range(30):
        docs.append((f"B{j}", f"{FILLER} filler{j} common words everywhere"))
    return docs, queries, qrels


def test_run_experiment_ca_beats_bm25(spark, tmp_path):
    from flexneuart_spark.index.builder import build_index

    docs, queries, qrels_rows = _collection(8)
    corpus = spark.createDataFrame(docs, "doc_id string, content string")
    idx = build_index(spark, corpus, str(tmp_path / "idx"), num_shards=4, tokenizer="whitespace")
    qrels = spark.createDataFrame(qrels_rows, "query_id string, doc_id string, grade int")

    desc = {
        "experSubdir": "ca_fusion",
        "extrType": json.dumps(
            [
                {"type": "TFIDFSimilarity",
                 "params": {"k1": "1.2", "b": "0.75", "similType": "bm25"}},
                {"type": "TermMatchSimilarity", "params": {}},
                {"type": "BM25ClosePairSimilarity",
                 "params": {"queryWindow": "4", "docWindow": "8"}},
            ]
        ),
        "candProvAddConfParam": {"k1": "1.2", "b": "0.75"},
        "useLMART": 0,
        "trainCandQty": 10,
        "testCandQty": 10,
        "metricType": "map",
        "numRandRestart": 2,
    }
    res = E.run_experiment(
        spark,
        desc,
        index=idx,
        train_queries=queries[:4],
        test_queries=queries[4:],
        qrels=qrels,
        out_dir=str(tmp_path),
    )
    # the premise: BM25 alone misranks the distractor above the relevant doc
    assert res["baseline_metrics"]["map"] < 1.0
    # the descriptor-driven fused run fixes it
    assert res["metrics"]["map"] > res["baseline_metrics"]["map"]
    assert res["metrics"]["map"] == pytest.approx(1.0)

    # model round-trip: rerun testOnly from the written RankLib file
    desc2 = dict(desc, testOnly=1, modelFinal=res["model_path"], experSubdir="ca_test_only")
    res2 = E.run_experiment(
        spark,
        desc2,
        index=idx,
        train_queries=[],
        test_queries=queries[4:],
        qrels=qrels,
        out_dir=str(tmp_path),
    )
    got = sorted(map(tuple, res2["run"].collect()))
    want = sorted(map(tuple, res["run"].collect()))
    assert [(r[0], r[1], r[3]) for r in got] == [(r[0], r[1], r[3]) for r in want]
    for g, w in zip(got, want):
        assert g[2] == pytest.approx(w[2], rel=1e-9)  # scores through the text model file


def test_run_experiment_neural_fusion(spark, tmp_path):
    """CEDR pattern e2e: a descriptor whose second extractor is the
    in-process neural scorer (ExternalThrift → MaxSim late interaction)
    fused with BM25 — the neural term-coverage signal (3/3 exact-match
    maxima vs the distractor's 2/3) must fix BM25's tf-saturation
    misranking, descriptor-driven end-to-end."""
    from flexneuart_spark.index.builder import build_index

    docs, queries, qrels_rows = _collection(6)
    corpus = spark.createDataFrame(docs, "doc_id string, content string")
    idx = build_index(spark, corpus, str(tmp_path / "idx"), num_shards=4, tokenizer="whitespace")
    qrels = spark.createDataFrame(qrels_rows, "query_id string, doc_id string, grade int")

    desc = {
        "experSubdir": "neural_fusion",
        "extrType": json.dumps(
            [
                {"type": "TFIDFSimilarity",
                 "params": {"k1": "1.2", "b": "0.75", "similType": "bm25"}},
                {"type": "ExternalThrift", "params": {"scorerType": "maxsim"}},
            ]
        ),
        "candProvAddConfParam": {"k1": "1.2", "b": "0.75"},
        "useLMART": 0,
        "trainCandQty": 10,
        "testCandQty": 10,
        "metricType": "map",
        "numRandRestart": 2,
    }
    res = E.run_experiment(
        spark,
        desc,
        index=idx,
        train_queries=queries[:3],
        test_queries=queries[3:],
        qrels=qrels,
        out_dir=str(tmp_path),
    )
    assert res["baseline_metrics"]["map"] < 1.0
    assert res["metrics"]["map"] > res["baseline_metrics"]["map"]


def test_run_experiment_lambdamart(spark, tmp_path):
    from flexneuart_spark.index.builder import build_index

    docs, queries, qrels_rows = _collection(6)
    corpus = spark.createDataFrame(docs, "doc_id string, content string")
    idx = build_index(spark, corpus, str(tmp_path / "idx"), num_shards=4, tokenizer="whitespace")
    qrels = spark.createDataFrame(qrels_rows, "query_id string, doc_id string, grade int")

    desc = {
        "experSubdir": "lmart_fusion",
        "extrType": json.dumps(
            [
                {"type": "TFIDFSimilarity",
                 "params": {"k1": "1.2", "b": "0.75", "similType": "bm25"}},
                {"type": "TermMatchSimilarity", "params": {}},
            ]
        ),
        "useLMART": 1,
        "numTrees": 10,
        "trainCandQty": 10,
        "testCandQty": 10,
    }
    res = E.run_experiment(
        spark,
        desc,
        index=idx,
        train_queries=queries[:3],
        test_queries=queries[3:],
        qrels=qrels,
        out_dir=str(tmp_path),
    )
    assert res["metrics"]["map"] >= res["baseline_metrics"]["map"]
    assert res["model_path"].endswith("out.model")
    # the run file landed in the experiment subdir
    import os

    assert os.path.exists(os.path.join(str(tmp_path), "lmart_fusion", "fused.run"))


def test_retr_score_feature(spark, tmp_path):
    """PassRetrScore (FeatExtrPassRetrScore.java:29-73): the candidate
    run's own score surfaces as a feature column; useOrigRetrScore picks
    orig_score when present; descriptor type round-trips."""
    from flexneuart_spark.operators.features import extract_features

    ref = [{"type": "PassRetrScore", "params": {"useOrigRetrScore": "true"}}]
    config = E.load_extractor_config(json.dumps(ref))
    assert config[0]["feature"] == "retr_score" and config[0]["use_orig"] is True
    assert E.dump_extractor_config(config) == ref
    rt = E.dump_extractor_config([{"name": "f1", "feature": "retr_score", "use_orig": False}])
    assert rt == [{"type": "PassRetrScore", "params": {"useOrigRetrScore": "false"}}]

    cand = spark.createDataFrame(
        [("q1", "d1", 2.0, 9.0), ("q1", "d2", 1.0, 3.0)],
        "query_id string, doc_id string, score double, orig_score double",
    )
    docs_tok = spark.createDataFrame([("d1", ["a"])], "doc_id string, tokens array<string>")
    with_orig = extract_features(
        docs_tok, docs_tok, [{"name": "f1", "feature": "retr_score", "cand": cand, "use_orig": True}]
    )
    got = {r.doc_id: r.f1 for r in with_orig.collect()}
    assert got == {"d1": 9.0, "d2": 3.0}
    current = extract_features(
        docs_tok, docs_tok, [{"name": "f1", "feature": "retr_score", "cand": cand}]
    )
    got = {r.doc_id: r.f1 for r in current.collect()}
    assert got == {"d1": 2.0, "d2": 1.0}
    with pytest.raises(ValueError, match="cand"):
        extract_features(docs_tok, docs_tok, [{"name": "f1", "feature": "retr_score"}])


def test_run_experiment_retr_score_descriptor(spark, tmp_path):
    """An experiment whose extractor list includes PassRetrScore trains
    and reranks: the cand run is injected per split."""
    from flexneuart_spark.index.builder import build_index

    docs, queries, qrels_rows = _collection(6)
    corpus = spark.createDataFrame(docs, "doc_id string, content string")
    idx = build_index(spark, corpus, str(tmp_path / "idx"), num_shards=2, tokenizer="whitespace")
    qrels = spark.createDataFrame(qrels_rows, "query_id string, doc_id string, grade int")
    desc = {
        "experSubdir": "retr_fusion",
        "extrType": json.dumps(
            [
                {"type": "PassRetrScore", "params": {"useOrigRetrScore": "true"}},
                {"type": "TermMatchSimilarity", "params": {}},
            ]
        ),
        "useLMART": 0,
        "trainCandQty": 10,
        "testCandQty": 10,
        "numRandRestart": 2,
    }
    res = E.run_experiment(
        spark,
        desc,
        index=idx,
        train_queries=queries[:3],
        test_queries=queries[3:],
        qrels=qrels,
        out_dir=str(tmp_path),
    )
    # fusion with the term-match feature fixes BM25's tf-saturation miss
    assert res["metrics"]["map"] > res["baseline_metrics"]["map"]


def test_sdm_and_embed_extractor_types(spark):
    """SDMSimilarity → the sdm feature (λ-combination of bm25 + ordered/
    unordered close-pair, FeatExtrSDMSimilarity.java:33-49 defaults);
    DocDenseEmbedDotProd → biencoder, DocSparseEmbedDotProd → bm25
    (C9 BM25-as-dot)."""
    from flexneuart_spark.operators.features import extract_features

    ref = [
        {"type": "SDMSimilarity",
         "params": {"lambdaT": "0.5", "lambdaO": "0.2", "lambdaU": "0.3", "window": "8"}},
        {"type": "DocDenseEmbedDotProd", "params": {"indexFieldName": "text"}},
        {"type": "DocSparseEmbedDotProd", "params": {"indexFieldName": "text"}},
    ]
    config = E.load_extractor_config(json.dumps(ref))
    assert [c["feature"] for c in config] == ["sdm", "biencoder", "bm25"]
    assert config[0]["lambda_t"] == 0.5 and config[0]["window"] == 8
    assert E.dump_extractor_config(config) == ref
    rt = E.dump_extractor_config([{"name": "f1", "feature": "sdm", "lambda_t": 0.4}])
    assert rt == [{"type": "SDMSimilarity", "params": {"indexFieldName": "text", "lambdaT": "0.4"}}]

    docs = [
        ("d1", "alpha beta gamma filler words here and there"),
        ("d2", "beta alpha more filler gamma alpha beta text body"),
        ("d3", "unrelated content entirely different tokens everywhere"),
    ]
    docs_tok = spark.createDataFrame(
        [(d, t.split()) for d, t in docs], "doc_id string, tokens array<string>"
    )
    q_tok = spark.createDataFrame(
        [("q1", ["alpha", "beta"])], "query_id string, tokens array<string>"
    )
    feats = extract_features(
        docs_tok,
        q_tok,
        [
            {"name": "f_sdm", "feature": "sdm"},
            {"name": "f_uni", "feature": "bm25"},
            {"name": "f_ord", "feature": "close_pair", "ordered": True},
            {"name": "f_unord", "feature": "close_pair", "ordered": False},
        ],
    )
    for r in feats.collect():
        assert r.f_sdm == pytest.approx(0.5 * r.f_uni + 0.2 * r.f_ord + 0.3 * r.f_unord, abs=1e-9)


def test_close_pair_feature_matches_bruteforce_all_pairs(spark):
    """The per-query equi-join candidacy gate must be invisible in the
    results: the feature frame's rows equal the independent naive oracle
    (test_proximity.naive_close_pair_score) evaluated on EVERY
    (query, doc) pair, keeping nonzero scores — across queries with
    disjoint vocab, repeated terms, OOV-only terms, and docs sharing
    <2 / ≥2 terms per query."""
    import numpy as np
    from test_proximity import naive_close_pair_score

    from flexneuart_spark.operators.features import extract_features

    docs = [
        ("d1", "alpha beta gamma filler words here and there"),
        ("d2", "beta alpha more filler gamma alpha beta text body"),
        ("d3", "alpha only shares one query term with q1 here"),
        ("d4", "delta epsilon close pair for the second query delta"),
        ("d5", "unrelated content entirely different tokens everywhere"),
        ("d6", "epsilon far away from stuff and then much later delta"),
    ]
    queries = [
        ("q1", ["alpha", "beta"]),
        ("q2", ["delta", "epsilon"]),
        ("q3", ["alpha", "alpha"]),        # repeated term: a==b pairs skipped
        ("q4", ["zzz_oov", "yyy_oov"]),    # OOV-only: no rows
        ("q5", ["beta", "delta"]),         # spans both doc groups
    ]
    docs_tok = spark.createDataFrame(
        [(d, t.split()) for d, t in docs], "doc_id string, tokens array<string>"
    )
    q_tok = spark.createDataFrame(queries, "query_id string, tokens array<string>")
    for ordered in (True, False):
        feats = extract_features(
            docs_tok, q_tok, [{"name": "s", "feature": "close_pair", "ordered": ordered}]
        )
        got = {(r.query_id, r.doc_id): r.s for r in feats.collect()}
        # independent oracle over ALL pairs
        tok = {d: t.split() for d, t in docs}
        n = len(docs)
        avgdl = float(np.mean([len(t) for t in tok.values()]))
        qvocab = {t for _, qt in queries for t in qt}
        df = {t: sum(t in set(dt) for dt in tok.values()) for t in qvocab}
        idf = {
            t: float(np.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5)))
            for t in qvocab if df[t] > 0
        }
        want = {}
        for qid, qt in queries:
            for did, dt in tok.items():
                s = naive_close_pair_score(qt, dt, idf, avgdl, 4, 8, ordered)
                if s != 0.0:
                    want[(qid, did)] = s
        assert set(got) == set(want), (ordered, set(got) ^ set(want))
        for k, v in want.items():
            assert got[k] == pytest.approx(v, rel=1e-12), (ordered, k)


def test_rm3_only_descriptor_covers_every_candidate(spark, tmp_path):
    """A single-feature RM3 descriptor with testCandQty above RM3's
    default internal pool (20): every candidate must stay in the fused
    run (the candidate left-join 0-fill), AND get a real RM3 score (the
    internal pool defaults to the split's candidate depth), not a zero
    tail."""
    from flexneuart_spark.index.builder import build_index
    from flexneuart_spark.io.ranklib import write_ranklib_linear

    n = 25
    docs = [(f"d{i:02d}", "alpha " + " ".join(f"w{i}x{j}" for j in range(4 + i % 5)))
            for i in range(n)]
    docs += [("dz1", "unrelated beta content"), ("dz2", "more beta filler")]
    corpus = spark.createDataFrame(docs, "doc_id string, content string")
    idx = build_index(spark, corpus, str(tmp_path / "idx"), num_shards=2,
                      tokenizer="whitespace")
    qrels = spark.createDataFrame(
        [("q1", "d00", 1)], "query_id string, doc_id string, grade int"
    )
    model = tmp_path / "lin.model"
    write_ranklib_linear([1.0], str(model))
    desc = {
        "experSubdir": "rm3_only",
        "extrType": json.dumps([
            {"type": "RM3Similarity",
             "params": {"topDocQty": "3", "topTermQty": "5", "origWeight": "0.5"}},
        ]),
        "testOnly": 1,
        "modelFinal": str(model),
        "testCandQty": n,
    }
    res = E.run_experiment(
        spark, desc, index=idx,
        train_queries=[], test_queries=[("q1", "alpha")],
        qrels=qrels, out_dir=str(tmp_path),
    )
    rows = res["run"].collect()
    assert len(rows) == n, f"candidates dropped from the fused run: {len(rows)}"
    zero_tail = [r.doc_id for r in rows if r.score == 0.0]
    assert not zero_tail, f"candidates outside the RM3 pool scored 0: {zero_tail}"


def test_run_experiment_multi_field(spark, tmp_path):
    """Multi-field collection (the reference's one-forward-index-per-field
    layout): extractors route by indexFieldName, candidates retrieve from
    candFieldName, and per-field query tokenizers apply — a
    krovetz-stemmed field matches morphology the raw field cannot."""
    from flexneuart_spark.index.builder import build_index
    from flexneuart_spark.operators.features import extract_features  # noqa: F401

    docs = [
        ("dA", "alpha running fast common filler words body text"),
        ("dB", "alpha runs quickly common filler words body text"),
        ("dC", "unrelated beta content entirely different tokens body"),
        ("dD", "gamma delta common filler words body text here"),
    ]
    corpus = spark.createDataFrame(docs, "doc_id string, content string")
    idx_raw = build_index(spark, corpus, str(tmp_path / "idx_raw"), num_shards=2,
                          tokenizer="whitespace")
    idx_k = build_index(spark, corpus, str(tmp_path / "idx_k"), num_shards=2,
                        tokenizer="krovetz")
    qrels = spark.createDataFrame(
        [("q1", "dA", 1), ("q1", "dB", 1)], "query_id string, doc_id string, grade int"
    )
    desc = {
        "experSubdir": "multi_field",
        "candFieldName": "text",
        "extrType": json.dumps(
            [
                {"type": "TFIDFSimilarity",
                 "params": {"similType": "bm25", "indexFieldName": "text"}},
                {"type": "TFIDFSimilarity",
                 "params": {"similType": "bm25", "indexFieldName": "text_k"}},
            ]
        ),
        "testOnly": 1,
        "modelFinal": None,  # replaced below
        "testCandQty": 10,
    }
    # score with a fixed 2-feature model (no training needed)
    from flexneuart_spark.io.ranklib import write_ranklib_linear

    model_path = str(tmp_path / "two_feat.model")
    write_ranklib_linear({1: 0.5, 2: 0.5}, model_path)
    desc["modelFinal"] = model_path

    res = E.run_experiment(
        spark,
        desc,
        index={"text": idx_raw, "text_k": idx_k},
        train_queries=[],
        test_queries=[("q1", "alpha running")],
        qrels=qrels,
        out_dir=str(tmp_path),
    )
    run_rows = {r.doc_id: r.score for r in res["run"].collect()}
    # dB matches "running" only through the stemmed field: its fused
    # score must exceed what the raw field alone would give it (dC gets
    # nothing) — and dA (matching both fields) tops the run
    assert "dA" in run_rows and "dB" in run_rows
    assert run_rows["dA"] > run_rows["dB"]
    assert "dC" not in run_rows
    # descriptor naming an unknown field fails loudly
    bad = dict(desc, extrType=json.dumps(
        [{"type": "TFIDFSimilarity",
          "params": {"similType": "bm25", "indexFieldName": "nope"}}]))
    with pytest.raises(ValueError, match="nope"):
        E.run_experiment(
            spark, bad, index={"text": idx_raw, "text_k": idx_k},
            train_queries=[], test_queries=[("q1", "alpha")], qrels=qrels,
            out_dir=str(tmp_path),
        )
