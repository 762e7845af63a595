#!/usr/bin/env python
"""spark-submit entrypoint: build (or resume) the inverted index.

Cluster launch (north rule: spark-submit --py-files):

    python scripts/make_pyfiles.py          # → dist/flexneuart_spark.zip
    spark-submit --py-files dist/flexneuart_spark.zip \\
        scripts/build_index_job.py \\
        --input  <iceberg-table-or-parquet-path> \\
        --output <index-dir> \\
        --num-shards 4096 --tokenizer code [--resume]

Local smoke:

    PYTHONPATH=. python scripts/build_index_job.py \\
        --input /root/testdata/sf0.01/documents.parquet \\
        --output /tmp/idx --num-shards 8 --tokenizer whitespace
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> None:
    from flexneuart_spark.functions.tokenize import TOKENIZERS

    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="parquet path or iceberg table (catalog.db.tbl)")
    ap.add_argument("--output", required=True, help="index directory")
    ap.add_argument("--num-shards", type=int, default=None)
    ap.add_argument("--tokenizer", choices=sorted(TOKENIZERS), default="code")
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--text-col", default=None)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from flexneuart_spark.config import DEFAULT_NUM_SHARDS
    from flexneuart_spark.index.builder import build_index

    spark = SparkSession.builder.appName("flexneuart_build_index").getOrCreate()
    if "." in args.input and "/" not in args.input:
        corpus = spark.read.table(args.input)  # Iceberg/catalog table
    else:
        corpus = spark.read.parquet(args.input)
    text_col = args.text_col or ("content" if "content" in corpus.columns else "text")
    t0 = time.time()
    tables = build_index(
        spark,
        corpus,
        args.output,
        num_shards=args.num_shards or DEFAULT_NUM_SHARDS,
        tokenizer=args.tokenizer,
        text_col=text_col,
        resume=args.resume,
    )
    n_docs, total, avgdl = tables.stats(spark)
    print(
        json.dumps(
            {
                "index_dir": args.output,
                "n_docs": n_docs,
                "total_tokens": total,
                "avg_doc_len": avgdl,
                "wall_sec": round(time.time() - t0, 2),
                "docs_per_sec": round(n_docs / (time.time() - t0), 1),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
