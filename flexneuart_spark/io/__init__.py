from flexneuart_spark.io.trec import (  # noqa: F401
    rank_run,
    read_qrels,
    read_queries,
    read_run,
    run_df_from_search,
    write_qrels,
    write_run,
)
