"""Descriptor generators (flexneuart_spark/gen_desc.py) vs the
reference's scripts/gen_exper_desc/*.py: exact grid sizes and grid
values, the gen_rerank_descriptors file layout
(gen_exper_desc/utils.py:85-130), and an end-to-end run of a generated
test-only descriptor through run_experiment."""

from __future__ import annotations

import json
import os

import pytest

from flexneuart_spark import gen_desc as G


def test_bm25_tune_grid(tmp_path):
    top = G.gen_bm25_tune(str(tmp_path), "desc", index_field="text")
    descs = json.load(open(top))
    # gen_bm25_tune_json_desc.py:59-62 — 8 b-values x 7 k1-values
    assert len(descs) == 56
    sub = tmp_path / "bm25tune_text_text"
    assert len(list(sub.glob("*.json"))) == 56
    d0 = descs[0]
    assert d0["testOnly"] == 1
    assert d0["experSubdir"].startswith("feat_exper/bm25tune_text_text/")
    assert d0["extrTypeFinal"].startswith("desc/bm25tune_text_text/")
    assert d0["modelFinal"] == "desc/models/one_feat.model"
    # grid values: k1 = 0.4+0.2i, b = 0.3+0.1j (the '%g' spellings)
    fids = {os.path.basename(d["extrTypeFinal"]) for d in descs}
    assert "bm25tune_k1=0.4_b=0.3.json" in fids
    assert "bm25tune_k1=1.6_b=1.json" in fids  # i=6, j=7: k1=1.6, b=1.0
    # extractor JSON is the reference TFIDFSimilarity shape
    extr = json.load(open(sub / "bm25tune_k1=0.4_b=0.3.json"))
    assert extr == [
        {
            "type": "TFIDFSimilarity",
            "params": {
                "queryFieldName": "text",
                "indexFieldName": "text",
                "similType": "bm25",
                "k1": "0.4",
                "b": "0.3",
            },
        }
    ]
    # the one-feature model parses as a RankLib linear model
    from flexneuart_spark.io.ranklib import load_ranklib_linear

    weights, _ = load_ranklib_linear(str(tmp_path / "models" / "one_feat.model"))
    assert weights == {1: 1.0}


def test_model1_tune_grid(tmp_path):
    top = G.gen_model1_tune(str(tmp_path), "desc", k1=1.2, b=0.75)
    descs = json.load(open(top))
    # gen_model1_exper_json_desc.py:39-55 — 12x8 grid + 7 + 4 extensions
    assert len(descs) == 12 * 8 + 7 + 4
    assert all(d["testOnly"] == 0 for d in descs)
    assert all("modelFinal" not in d for d in descs)
    sub = tmp_path / "model1tune_text_unlemm_text_unlemm"
    one = json.load(open(sub / os.path.basename(descs[0]["extrTypeFinal"])))
    assert [e["type"] for e in one] == ["Model1Similarity", "TFIDFSimilarity"]
    assert one[0]["params"]["gizaIterQty"] == "5"
    assert one[0]["params"]["minModel1Prob"] == "2.5e-3f"


def test_rm3_tune_grid(tmp_path):
    top = G.gen_rm3_tune(str(tmp_path), "desc", k1=0.9, b=0.4)
    descs = json.load(open(top))
    # gen_rm3_exper_json_desc.py:66-69 — 7 weights x 13 x 13 qtys
    assert len(descs) == 7 * 13 * 13
    assert all(d["testOnly"] == 1 for d in descs)
    fid0 = os.path.basename(descs[0]["extrTypeFinal"])
    assert fid0 == "rm3=text+text_origWeight=0.3_topDocQty=1_topTermQty=1_k1=0.9_0.4.json"
    one = json.load(open(tmp_path / "rm3tune_text_text" / fid0))
    assert one[0]["type"] == "RM3Similarity"
    assert one[0]["params"]["origWeight"] == 0.3
    assert one[0]["params"]["topDocQty"] == 1


def test_generated_descriptor_runs(spark, tmp_path):
    """A generated bm25tune descriptor (extrTypeFinal + modelFinal paths
    relative to the collection dir) runs through run_experiment with
    base_dir= and produces a scored run."""
    from flexneuart_spark.exper import run_experiment
    from flexneuart_spark.index.builder import build_index

    coll = tmp_path / "coll"
    coll.mkdir()
    top = G.gen_bm25_tune(str(coll), ".", index_field="text")
    descs = json.load(open(top))
    desc = descs[0]

    docs = [(f"d{i}", f"alpha beta w{i} gamma common") for i in range(12)]
    corpus = spark.createDataFrame(docs, "doc_id string, content string")
    idx = build_index(spark, corpus, str(tmp_path / "idx"), num_shards=2, tokenizer="whitespace")
    queries = [("q1", "alpha w3"), ("q2", "gamma w7")]
    qrels = spark.createDataFrame(
        [("q1", "d3", 1), ("q2", "d7", 1)], "query_id string, doc_id string, grade int"
    )
    res = run_experiment(
        spark,
        desc,
        index=idx,
        train_queries=[],
        test_queries=queries,
        qrels=qrels,
        out_dir=str(tmp_path / "out"),
        base_dir=str(coll),
    )
    run_rows = res["run"].collect()
    assert len(run_rows) > 0
    # single bm25 feature scored by the 1:1.0 model: the planted relevant
    # doc (unique low-df term) tops each query
    top_by_q = {}
    for r in run_rows:
        if r.query_id not in top_by_q or r.score > top_by_q[r.query_id][1]:
            top_by_q[r.query_id] = (r.doc_id, r.score)
    assert top_by_q["q1"][0] == "d3"
    assert top_by_q["q2"][0] == "d7"
    assert res["metrics"]["map"] == pytest.approx(1.0)
