"""End-to-end ``spark-submit --py-files`` launch (north rule: "launched
via spark-submit --py-files on a multi-executor cluster").

Packages the library with ``scripts/make_pyfiles.py``, then runs the two
job entrypoints as real subprocess ``spark-submit`` launches — NOT via
the test session's PYTHONPATH — so import resolution happens exactly the
way a cluster executor would resolve it (from the shipped zip). Asserts
the build emits its stats JSON line, the index answers a query through
``scripts/query_job.py`` (BMW kernel, exercising the CLI flag), and the
TREC run file has the right shape.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit")
SF_DIR = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    SPARK_SUBMIT is None, reason="spark-submit not on PATH"
)


def _run(args, cwd):
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the zip must satisfy every import
    env.setdefault("PYSPARK_PYTHON", sys.executable)
    env.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)
    proc = subprocess.run(
        args, cwd=cwd, env=env, capture_output=True, text=True, timeout=420
    )
    assert proc.returncode == 0, f"{args}\nSTDOUT:\n{proc.stdout[-3000:]}\nSTDERR:\n{proc.stderr[-3000:]}"
    return proc.stdout


def test_spark_submit_build_then_query(tmp_path):
    zip_out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "scripts", "make_pyfiles.py")],
        cwd=ROOT, capture_output=True, text=True, check=True,
    ).stdout.strip()
    assert zip_out.endswith("flexneuart_spark.zip") and os.path.exists(zip_out)

    idx = str(tmp_path / "idx")
    out = _run(
        [
            SPARK_SUBMIT, "--master", "local[2]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.ui.enabled=false",
            "--py-files", zip_out,
            os.path.join(ROOT, "scripts", "build_index_job.py"),
            "--input", f"{SF_DIR}/documents.parquet",
            "--output", idx,
            "--num-shards", "4",
            "--tokenizer", "whitespace",
        ],
        cwd=str(tmp_path),  # NOT the repo root: imports must come from the zip
    )
    stats = json.loads([ln for ln in out.splitlines() if ln.startswith("{")][-1])
    assert stats["n_docs"] > 0 and stats["total_tokens"] > 0

    qfile = tmp_path / "queries.jsonl"
    qfile.write_text(
        '{"query_id": "q1", "text": "the data of a system"}\n'
        '{"query_id": "q_oov", "text": "zzzzzzzz"}\n'
    )
    run_path = str(tmp_path / "run.txt")
    _run(
        [
            SPARK_SUBMIT, "--master", "local[2]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.ui.enabled=false",
            "--py-files", zip_out,
            os.path.join(ROOT, "scripts", "query_job.py"),
            "--index", idx,
            "--queries", str(qfile),
            "--output", run_path,
            "--k", "5",
            "--kernel", "bmw",
        ],
        cwd=str(tmp_path),
    )
    # write_run is a Spark text sink: a directory of part files
    import glob

    raw = "".join(
        open(p).read() for p in sorted(glob.glob(os.path.join(run_path, "part-*")))
    )
    lines = [ln.split() for ln in raw.splitlines() if ln]
    assert lines, "empty run file"
    # TREC format: qid Q0 doc_id rank score run_id
    assert all(len(p) == 6 and p[1] == "Q0" for p in lines)
    q1 = [p for p in lines if p[0] == "q1"]
    assert 1 <= len(q1) <= 5
    assert [int(p[3]) for p in q1] == list(range(1, len(q1) + 1))
    assert not [p for p in lines if p[0] == "q_oov"]  # OOV ⇒ no rows


def test_spark_submit_convert_job(tmp_path):
    """scripts/convert_job.py end-to-end from the shipped zip: TSV lines
    → msmarco_queries entries in parquet."""
    zip_out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "scripts", "make_pyfiles.py")],
        cwd=ROOT, capture_output=True, text=True, check=True,
    ).stdout.strip()
    raw = tmp_path / "queries.tsv"
    raw.write_text("q1\tthe running cats were faster\nq2\tshear flows\nbad-line\n")
    stop = tmp_path / "stop.txt"
    stop.write_text("the\n")
    out_dir = str(tmp_path / "out")
    stdout = _run(
        [
            SPARK_SUBMIT, "--master", "local[2]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.ui.enabled=false",
            "--py-files", zip_out,
            os.path.join(ROOT, "scripts", "convert_job.py"),
            "--format", "msmarco_queries",
            "--input", str(raw),
            "--output", out_dir,
            "--stopwords", str(stop),
            "--min-query-tokens", "1",
        ],
        cwd=ROOT,
    )
    assert "converted 2 msmarco_queries entries" in stdout
    import pyarrow.parquet as pq

    t = pq.read_table(out_dir).to_pandas().set_index("DOCNO")
    assert set(t.index) == {"q1", "q2"}
    assert t.loc["q1", "text_raw"] == "the running cats were faster"
    assert "run" in t.loc["q1", "text"].split()  # lemmatized, 'the' stopped
    assert "the" not in t.loc["q1", "text"].split()


def test_spark_submit_yahoo_answers_job(tmp_path):
    """convert_job.py --format yahoo_answers from the shipped zip: the
    container XML -> question/answer/qrel/bitext parquet outputs."""
    zip_out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "scripts", "make_pyfiles.py")],
        cwd=ROOT, capture_output=True, text=True, check=True,
    ).stdout.strip()
    raw = tmp_path / "ya.xml"
    raw.write_text(
        "<document>\n<uri>q1</uri>\n<subject>fast cats</subject>\n"
        "<content>why so fast</content>\n"
        "<bestanswer>they hunt</bestanswer>\n"
        "<nbestanswers><answer_item>they hunt</answer_item>"
        "<answer_item>genes</answer_item></nbestanswers>\n</document>\n"
        "<document>\n<uri>q2</uri>\n<subject>no answers</subject>\n</document>\n"
    )
    out_dir = str(tmp_path / "out")
    stdout = _run(
        [
            SPARK_SUBMIT, "--master", "local[2]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.ui.enabled=false",
            "--py-files", zip_out,
            os.path.join(ROOT, "scripts", "convert_job.py"),
            "--format", "yahoo_answers",
            "--input", str(raw),
            "--output", out_dir,
        ],
        cwd=ROOT,
    )
    assert "converted 1 yahoo_answers question_entries rows" in stdout
    assert "converted 2 yahoo_answers answer_entries rows" in stdout
    assert "converted 2 yahoo_answers qrels rows" in stdout
    assert "converted 4 yahoo_answers bitext rows" in stdout
    import pyarrow.parquet as pq

    qrels = pq.read_table(f"{out_dir}/qrels").to_pandas().set_index("doc_id")
    assert qrels.loc["q1-0", "grade"] == 4 and qrels.loc["q1-1", "grade"] == 3


def test_spark_submit_msmarco_v2_passages_job(tmp_path):
    """convert_job.py --format msmarco_v2_passages from the shipped zip:
    JSONL shard -> pass_entries + doc2pass parquet outputs."""
    zip_out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "scripts", "make_pyfiles.py")],
        cwd=ROOT, capture_output=True, text=True, check=True,
    ).stdout.strip()
    raw = tmp_path / "msmarco_passage_00.jsonl"
    raw.write_text(
        '{"pid": "p1", "docid": "d1", "passage": "the cats run fast"}\n'
        '{"pid": "p2", "docid": "d1", "passage": "cats again"}\n'
        '{"pid": "p3", "docid": "d2", "passage": "old maps"}\n'
    )
    out_dir = str(tmp_path / "out")
    stdout = _run(
        [
            SPARK_SUBMIT, "--master", "local[2]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.ui.enabled=false",
            "--py-files", zip_out,
            os.path.join(ROOT, "scripts", "convert_job.py"),
            "--format", "msmarco_v2_passages",
            "--input", str(raw),
            "--output", out_dir,
        ],
        cwd=ROOT,
    )
    assert "converted 3 msmarco_v2 passage rows" in stdout
    assert "converted 2 msmarco_v2 doc2pass rows" in stdout
    import pyarrow.parquet as pq

    entries = pq.read_table(f"{out_dir}/pass_entries").to_pandas().set_index("DOCNO")
    assert set(entries.index) == {"p1", "p2", "p3"}
    assert entries.loc["p1", "orig_docid"] == "d1"
    d2p = pq.read_table(f"{out_dir}/doc2pass").to_pandas().set_index("DOCNO")
    assert d2p.loc["d1", "pass_ids"] == "p1 p2"
    assert d2p.loc["d2", "pass_ids"] == "p3"


def test_spark_submit_irds_config_job(tmp_path):
    """convert_job.py --format irds_config from the shipped zip: a
    reference-shaped pipeline JSON over a per-part parquet input."""
    import json

    zip_out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "scripts", "make_pyfiles.py")],
        cwd=ROOT, capture_output=True, text=True, check=True,
    ).stdout.strip()
    cfg = tmp_path / "cfg.json"
    cfg.write_text(json.dumps([
        {
            "part_name": "queries_all",
            "dataset_name": "x/test",
            "is_query": True,
            "src_attributes": ["text"],
            "pipeline": [
                [
                    {"name": "krovetz_stemmer", "args": {"input_fields": ["text"]}},
                    {"name": "rename", "args": {"rename_dict": {"text": "text_raw"}}},
                ],
                [{"name": "rename", "args": {"rename_dict": {"text_raw": "text_raw", "text.stems": "text"}}}],
            ],
        }
    ]))
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "queries.parquet"
    pq.write_table(
        pa.Table.from_pandas(pd.DataFrame({"query_id": ["q1"], "text": ["the running cats"]})),
        str(src),
    )
    out_dir = str(tmp_path / "out")
    stdout = _run(
        [
            SPARK_SUBMIT, "--master", "local[2]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.ui.enabled=false",
            "--py-files", zip_out,
            os.path.join(ROOT, "scripts", "convert_job.py"),
            "--format", "irds_config",
            "--config", str(cfg),
            "--part-input", f"queries_all={src}",
            "--input", str(src),  # unused by irds_config but required by the CLI
            "--output", out_dir,
        ],
        cwd=ROOT,
    )
    assert "converted 1 irds queries_all rows" in stdout
    t = pq.read_table(f"{out_dir}/queries_all").to_pandas().set_index("DOCNO")
    assert t.loc["q1", "text_raw"] == "the running cats"
    assert t.loc["q1", "text"] == "the run cat"


def test_spark_submit_exper_job(tmp_path):
    """scripts/exper_job.py end-to-end from the shipped zip: build index
    → retrieve once to learn a real relevant doc → descriptor-driven
    testOnly experiment (inline extrType, RankLib linear modelFinal) —
    the run_one_experiment.sh stage order as ONE spark-submit launch."""
    import glob
    import sys as _sys

    _sys.path.insert(0, ROOT)  # the TEST process may use the repo directly
    from flexneuart_spark.io.ranklib import write_ranklib_linear

    zip_out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "scripts", "make_pyfiles.py")],
        cwd=ROOT, capture_output=True, text=True, check=True,
    ).stdout.strip()

    idx = str(tmp_path / "idx")
    _run(
        [
            SPARK_SUBMIT, "--master", "local[2]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.ui.enabled=false",
            "--py-files", zip_out,
            os.path.join(ROOT, "scripts", "build_index_job.py"),
            "--input", f"{SF_DIR}/documents.parquet",
            "--output", idx,
            "--num-shards", "4",
            "--tokenizer", "whitespace",
        ],
        cwd=str(tmp_path),
    )
    qfile = tmp_path / "queries.jsonl"
    qfile.write_text('{"query_id": "q1", "text": "the data of a system"}\n')
    probe_run = str(tmp_path / "probe_run")
    _run(
        [
            SPARK_SUBMIT, "--master", "local[2]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.ui.enabled=false",
            "--py-files", zip_out,
            os.path.join(ROOT, "scripts", "query_job.py"),
            "--index", idx, "--queries", str(qfile),
            "--output", probe_run, "--k", "3",
        ],
        cwd=str(tmp_path),
    )
    raw = "".join(
        open(p).read() for p in sorted(glob.glob(os.path.join(probe_run, "part-*")))
    )
    top_doc = [ln.split() for ln in raw.splitlines() if ln][0][2]

    qrels = tmp_path / "qrels.txt"
    qrels.write_text(f"q1 0 {top_doc} 1\n")
    model = tmp_path / "lin.model"
    write_ranklib_linear([1.0], str(model))
    desc = tmp_path / "exper.json"
    desc.write_text(json.dumps({
        "experSubdir": "e2e",
        "extrType": json.dumps([
            {"type": "TFIDFSimilarity", "params": {"similType": "bm25", "indexFieldName": "text"}},
        ]),
        "testOnly": 1,
        "modelFinal": str(model),
        "testCandQty": 5,
    }))
    out_dir = str(tmp_path / "results")
    stdout = _run(
        [
            SPARK_SUBMIT, "--master", "local[2]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.ui.enabled=false",
            "--py-files", zip_out,
            os.path.join(ROOT, "scripts", "exper_job.py"),
            "--descriptor", str(desc),
            "--index", idx,
            "--test-queries", str(qfile),
            "--qrels", str(qrels),
            "--output", out_dir,
        ],
        cwd=str(tmp_path),
    )
    res = json.loads([ln for ln in stdout.splitlines() if ln.startswith("{")][-1])
    # the 1-feature linear model IS BM25 -> fused == baseline, and the
    # probed top doc is the one relevant doc, so MAP is exactly 1
    assert res["metrics"]["map"] == pytest.approx(1.0)
    assert res["baseline_metrics"]["map"] == pytest.approx(1.0)
    fused = glob.glob(os.path.join(out_dir, "e2e", "**", "part-*"), recursive=True)
    assert fused, "fused run not written under <out>/<experSubdir>"
