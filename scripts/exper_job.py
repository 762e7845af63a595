#!/usr/bin/env python
"""spark-submit entrypoint: one descriptor-driven experiment — the
``scripts/exper/run_one_experiment.sh`` analogue (retrieve → extract
features → train CA/LambdaMART (or load ``modelFinal``) → rerank →
eval), over an index built by ``scripts/build_index_job.py``.

    spark-submit --py-files dist/flexneuart_spark.zip \\
        scripts/exper_job.py --descriptor <exper.json> \\
        --index <index-dir> [--index <field>=<index-dir> ...] \\
        --train-queries <jsonl-or-parquet> --test-queries <jsonl-or-parquet> \\
        --qrels <trec-qrels> --output <out-dir> \\
        [--base-dir <collection-root>] [--seed 42]

Query files carry (query_id, text) rows. Repeated ``--index field=dir``
arguments form a multi-field collection (one forward index per field,
the reference layout); a single bare ``--index dir`` is the one-field
case. Each field's queries are tokenized with the tokenizer its index
was built with (the index records it). Prints the fused-vs-baseline
metrics as ONE JSON line and writes the fused run + trained model under
``<out-dir>/<experSubdir>`` (the layout ``run_one_experiment.sh`` leaves
in ``results/``).
"""

from __future__ import annotations

import argparse
import json
import sys


def _kv_pairs(items: list[str], flag: str) -> dict[str, str]:
    out: dict[str, str] = {}
    for it in items:
        if "=" not in it:
            raise SystemExit(f"{flag} expects <field>=<value>, got {it!r}")
        k, v = it.split("=", 1)
        out[k] = v
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--descriptor", required=True, help="experiment JSON (gen_desc output or hand-written)")
    ap.add_argument("--index", action="append", required=True,
                    help="index dir, or <field>=<index-dir> (repeatable for multi-field)")
    ap.add_argument("--train-queries", help="omit with testOnly descriptors")
    ap.add_argument("--test-queries", required=True)
    ap.add_argument("--qrels", required=True, help="TREC qrels file")
    ap.add_argument("--output", required=True)
    ap.add_argument("--base-dir", default=None,
                    help="collection root for descriptor-relative extractor/model paths")
    ap.add_argument("--seed", type=int, default=42)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from flexneuart_spark.exper import run_experiment
    from flexneuart_spark.io.trec import read_qrels, read_queries

    # validate BEFORE any Spark work: a training descriptor without
    # training queries would otherwise fail deep inside the trainer
    with open(args.descriptor) as fh:
        desc_head = json.load(fh)
    if isinstance(desc_head, list):
        desc_head = desc_head[0]
    if not int(desc_head.get("testOnly", 0)) and not args.train_queries:
        raise SystemExit("descriptor is a training run (no testOnly=1): pass --train-queries")

    spark = SparkSession.builder.appName("flexneuart_exper").getOrCreate()

    if len(args.index) == 1 and "=" not in args.index[0]:
        index = args.index[0]
    else:
        index = _kv_pairs(args.index, "--index")

    res = run_experiment(
        spark,
        args.descriptor,
        index=index,
        train_queries=read_queries(spark, args.train_queries) if args.train_queries else [],
        test_queries=read_queries(spark, args.test_queries),
        qrels=read_qrels(spark, args.qrels),
        out_dir=args.output,
        seed=args.seed,
        base_dir=args.base_dir,
    )
    print(json.dumps({
        "metrics": res["metrics"],
        "baseline_metrics": res["baseline_metrics"],
        "model_path": res.get("model_path"),
    }))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
