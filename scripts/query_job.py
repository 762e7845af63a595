#!/usr/bin/env python
"""spark-submit entrypoint: batch BM25 top-k retrieval → TREC run.

    spark-submit --py-files dist/flexneuart_spark.zip \\
        scripts/query_job.py --index <index-dir> \\
        --queries <json, jsonl or parquet with query_id,text> \\
        --output <run-dir> --k 100 [--run-id my_run]

Queries are tokenized with the tokenizer the index was built with (the
index records it).
"""

from __future__ import annotations

import argparse
import sys


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--queries", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--k", type=int, default=100)
    ap.add_argument("--run-id", default="flexneuart_spark")
    ap.add_argument("--kernel", choices=["maxscore", "bmw", "exhaustive"], default="maxscore",
                    help="top-k scoring kernel (result-identical; maxscore is fastest in numpy)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from flexneuart_spark.io.trec import read_queries, write_run
    from flexneuart_spark.search.engine import Searcher

    spark = SparkSession.builder.appName("flexneuart_query").getOrCreate()
    queries = read_queries(spark, args.queries)
    s = Searcher(spark, args.index)
    run = s.search(queries, k=args.k, kernel=args.kernel)
    write_run(run, args.output, run_id=args.run_id)
    print(f"wrote run for {len(queries)} queries to {args.output}")
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
