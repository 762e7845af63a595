"""Distributed inverted-index builder (Spark-first restatement of
``LuceneIndexer.createLuceneIndex`` + ``ForwardIndex.createIndex`` —
reference ``apps/LuceneIndexer.java:143-237``,
``fwdindx/ForwardIndex.java:822-925``; SURVEY.md §3.1).

Architecture (designed for 10^12-file corpora on a 1000-executor cluster):

- **Document-sharded index.** ``shard = pmod(xxhash64(doc_id), num_shards)``.
  Each shard is a self-contained mini-index (all terms for its doc subset).
  This realizes the north rule's *explicit salting of skewed head terms*:
  a term with df = 10^9 is automatically split into ``num_shards``
  independent posting lists keyed (shard, term) — no single reducer ever
  sees a whole head term. Query-time top-k then runs shard-parallel with a
  bounded heap per shard and a tiny global merge (SURVEY.md §2.6 K1).
- **Stage 1 — forward index** (reference §1.3, parsedText mode
  ``ForwardIndex.java:102-108``): ONE pass over the corpus on its input
  splits — tokenize (vectorized Arrow UDF), doc_len, per-row
  sha256(content) invariant — written partitioned by shard. Deliberately
  NO pre-tokenize repartition: shuffling raw ``content`` costs more than
  every downstream step combined (measured ~3x on this corpus); the input
  format's splits already bound task size, and the only data that ever
  shuffles is the compact tokenized form.
  The per-shard dense doc ordinal (``row_number`` over (shard, doc_id))
  rides the same exchange + sort as the write — the DocEntryParsed
  directory (shard, ord) ↔ doc_id is a pruned-column VIEW of this table,
  not a second job.
- **Stage 2 — inverted index**: ``groupBy(shard).applyInArrow`` over
  (ord, tokens, doc_len); the kernel dictionary-encodes the token stream
  (O(n), no object-array sort), collapses (term, ord) pairs to tfs with
  one int64 sort, and emits delta-gap varint blocks + block-max metadata
  in one batch encode (codec.py).
- **Finalize** (idempotent, recomputed from all shards every build):
  global dictionary term→(term_id, df, idf) — the "merge partition-local
  indexes into a global index" step; the only shuffle is (shard, term) →
  term with ≤ num_shards rows per term — plus corpus stats
  (docQty/totalWordQty/avgDocLen, ``ForwardIndex.java:350-353``) and the
  tokenizer's name, which every reader tokenizes queries with.
- **Lineage / checkpoint-resume**: one lineage row per completed shard
  (counts, checksum, duration). A resumed build skips completed shards,
  rewrites only missing ones (dynamic partition overwrite → idempotent),
  and re-runs finalize, so df/avgdl are never double-counted.

Word-id assignment: dense ids in ascending term order starting at 1
(MIN_WORD_ID parity, ``ForwardIndex.java:111,880-887``; first-encounter
order is irreproducible in a parallel build — SURVEY.md §2.4 A4 — and ids
are join-key surrogates only, BM25 depends only on df/tf/len). Assignment
is scalable: range-partition by term + per-partition offsets, no global
single-partition window.
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from flexneuart_spark.config import DEFAULT_NUM_SHARDS, MAX_DOC_SIZE
from flexneuart_spark.functions.tokenize import TOKENIZERS, code_tokenize_arrow
from flexneuart_spark.index.codec import encode_postings_batch

_POSTINGS_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.IntegerType()),
        T.StructField("term", T.StringType()),
        T.StructField("df_shard", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("block_off", T.ArrayType(T.LongType())),
        T.StructField("block_n", T.ArrayType(T.IntegerType())),
        T.StructField("block_max_doc", T.ArrayType(T.LongType())),
        T.StructField("block_max_tf", T.ArrayType(T.LongType())),
        T.StructField("block_min_dl", T.ArrayType(T.LongType())),
    ]
)


def _tokens_udf(tokenizer: str):
    """Vectorized tokenizer UDF → array<string> token sequence (the
    reference's parsedText word-id sequence, ``ForwardIndex.java:102-108``;
    tokenizer semantics in functions/tokenize.py). Empty/null content →
    empty array, doc kept (``LuceneIndexer.java:206-214``)."""

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def tok(content: pd.Series) -> pd.Series:
        if tokenizer == "code":
            out = code_tokenize_arrow(content)
        elif tokenizer == "krovetz":
            from flexneuart_spark.functions.tokenize import krovetz_tokenize_pandas

            out = krovetz_tokenize_pandas(content)
        else:  # whitespace (T9): split on \s+, drop empties
            out = content.fillna("").str.split(r"\s+", regex=True).map(
                lambda xs: [t for t in xs if t] if xs is not None else []
            )
        return out.map(lambda xs: xs if isinstance(xs, (list, np.ndarray)) else [])

    return tok


def _arrow_postings_kernel(tbl):
    """Build ALL posting lists of one shard in a single vectorized pass
    (``applyInArrow`` over groupBy(shard); input: ord, tokens, doc_len).
    The token stream stays in Arrow the whole way: ``list_flatten`` hands
    over the concatenated token array, ``dictionary_encode`` factorizes it
    in C (no object-array sort; only the per-shard vocabulary is sorted),
    (term, ord) pairs collapse to tfs via one int64 argsort +
    change-point detection, and every output column is built zero-copy
    from the codec's flat arrays (:func:`encode_postings_batch`) via
    ``ListArray.from_arrays`` / ``Array.from_buffers`` — no per-term
    Python objects at any point. Ordinals come from the fwd table
    (stage-1 window: rank of doc_id ascending per shard)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    schema = to_arrow_schema(_POSTINGS_SCHEMA)
    if tbl.num_rows == 0:
        return pa.table({f.name: pa.array([], type=f.type) for f in schema})
    shard = tbl.column("shard")[0].as_py()
    ords = tbl.column("ord").to_numpy().astype(np.int64)
    dls = tbl.column("doc_len").to_numpy().astype(np.int64)
    toks = tbl.column("tokens")
    reps = pc.list_value_length(toks).to_numpy().astype(np.int64)
    flat = pc.list_flatten(toks)
    if isinstance(flat, pa.ChunkedArray):
        flat = flat.combine_chunks()
    if len(flat) == 0:
        return pa.table({f.name: pa.array([], type=f.type) for f in schema})
    all_ords = np.repeat(ords, reps)
    all_dls = np.repeat(dls, reps)

    denc = flat.dictionary_encode()
    codes = denc.indices.to_numpy().astype(np.int64)
    dictionary = denc.dictionary
    vorder = pc.sort_indices(dictionary).to_numpy().astype(np.int64)
    rank = np.empty(len(dictionary), dtype=np.int64)
    rank[vorder] = np.arange(len(dictionary), dtype=np.int64)
    codes = rank[codes]

    m = np.int64(int(ords.max()) + 1)
    key = codes * m + all_ords
    o2 = np.argsort(key)
    ks = key[o2]
    newpair = np.empty(len(ks), dtype=bool)
    newpair[0] = True
    np.not_equal(ks[1:], ks[:-1], out=newpair[1:])
    starts = np.flatnonzero(newpair)
    tf = np.diff(np.append(starts, len(ks)))
    gkey = ks[starts]
    gcode = gkey // m
    gord = gkey - gcode * m
    gdl = all_dls[o2[starts]]

    tb = np.flatnonzero(np.r_[True, gcode[1:] != gcode[:-1]])
    tbounds = np.append(tb, len(gcode))
    enc = encode_postings_batch(gord, tf, gdl, tbounds)
    n_terms = len(tb)

    payload_all = enc["payload_all"]
    if len(payload_all) >= 2**31:
        raise ValueError(
            f"shard {shard} payload {len(payload_all)} B exceeds the 2 GiB "
            "Arrow binary limit — raise num_shards (auto_num_shards sizes "
            "shards far below this)"
        )
    offsets32 = pa.array(enc["term_blk_bounds"].astype(np.int32), type=pa.int32())

    def lst(vals, patype):
        return pa.ListArray.from_arrays(offsets32, pa.array(vals, type=patype))

    payload = pa.Array.from_buffers(
        pa.binary(),
        n_terms,
        [None, pa.py_buffer(enc["term_byte_bounds"].astype(np.int32).tobytes()), pa.py_buffer(payload_all)],
    )
    term_col = dictionary.take(pa.array(vorder[gcode[tb]], type=pa.int64()))
    return pa.table(
        {
            "shard": pa.array(np.full(n_terms, shard, dtype=np.int32), type=pa.int32()),
            "term": term_col,
            "df_shard": pa.array(enc["df"], type=pa.int64()),
            "payload": payload,
            "block_off": lst(enc["block_off"], pa.int64()),
            "block_n": lst(enc["block_n"], pa.int32()),
            "block_max_doc": lst(enc["block_max_doc"], pa.int64()),
            "block_max_tf": lst(enc["block_max_tf"], pa.int64()),
            "block_min_dl": lst(enc["block_min_dl"], pa.int64()),
        }
    )


@dataclass
class IndexTables:
    """Handles to the index's storage layout (Parquet; Iceberg-shaped —
    partitioned dirs + atomic overwrite ≈ snapshot semantics; swap these
    readers/writers for ``format("iceberg")`` + ``overwritePartitions()``
    when the runtime ships the Iceberg jars — not present in this
    sandbox)."""

    index_dir: str

    @property
    def fwd_dir(self) -> str:
        return f"{self.index_dir}/fwd"

    @property
    def postings_dir(self) -> str:
        return f"{self.index_dir}/postings"

    @property
    def dictionary_dir(self) -> str:
        return f"{self.index_dir}/dictionary"

    @property
    def corpus_stats_dir(self) -> str:
        return f"{self.index_dir}/corpus_stats"

    @property
    def lineage_dir(self) -> str:
        return f"{self.index_dir}/lineage"

    def fwd(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.fwd_dir)

    def docmap(self, spark: SparkSession) -> DataFrame:
        """Doc-entry directory (shard, ord) ↔ (doc_id, doc_len, sha) — a
        pruned-column view of the fwd table (token arrays never read)."""
        return self.fwd(spark).select("shard", "ord", "doc_id", "doc_len", "content_sha256")

    def postings(self, spark: SparkSession) -> DataFrame:
        # explicit schema: stable for zero-file tables (all-empty corpora)
        return spark.read.schema(_POSTINGS_SCHEMA).parquet(self.postings_dir)

    def dictionary(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.dictionary_dir)

    def corpus_stats(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.corpus_stats_dir)

    def lineage(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.lineage_dir)

    def stats(self, spark: SparkSession) -> tuple[int, int, float]:
        row = self.corpus_stats(spark).collect()[0]
        return int(row.n_docs), int(row.total_tokens), float(row.avg_doc_len)


def merged_stats(spark: SparkSession, segments: list[IndexTables]) -> tuple[int, float, str]:
    """(n_docs, avgdl, tokenizer) over ``segments`` from ONE multi-path read
    of their one-row ``corpus_stats`` tables. Queries are tokenized with
    the tokenizer every segment records; if they disagree (their df would
    not add up), ``ValueError`` names each segment's; so it does for a
    recorded name this version has no tokenizer of."""
    rows = (
        spark.read.parquet(*[t.corpus_stats_dir for t in segments])
        .select("n_docs", "total_tokens", "tokenizer", F.input_file_name().alias("path"))
        .collect()
    )
    names = {r.tokenizer for r in rows}
    if len(names) > 1:
        each = sorted(f"{r.path.rsplit('/corpus_stats/', 1)[0]}: {r.tokenizer}" for r in rows)
        raise ValueError(f"segments were built with different tokenizers: {'; '.join(each)}")
    tokenizer = names.pop()
    if tokenizer not in TOKENIZERS:
        where = rows[0].path.rsplit("/corpus_stats/", 1)[0]
        raise ValueError(f"unknown tokenizer {tokenizer!r} recorded in {where}; expected one of {sorted(TOKENIZERS)}")
    n_docs = sum(int(r.n_docs) for r in rows)
    total_tokens = sum(int(r.total_tokens) for r in rows)
    return n_docs, (total_tokens / n_docs) if n_docs else 1.0, tokenizer


def derive_doc_id(df: DataFrame) -> DataFrame:
    """DOCNO analogue: ``repo:path@commit`` (FIXTURES.md §1), or an
    existing ``doc_id`` column cast to string."""
    if "doc_id" in df.columns:
        return df.withColumn("doc_id", F.col("doc_id").cast("string"))
    return df.withColumn(
        "doc_id", F.concat_ws("", F.col("repo"), F.lit(":"), F.col("path"), F.lit("@"), F.col("commit"))
    )


def assign_dense_ids(df: DataFrame, order_col: str, id_col: str, num_parts: int = 32) -> DataFrame:
    """Dense 1-based ids in ascending ``order_col`` order, scalably:
    range-partition, count per partition (tiny collect), per-partition
    row_number + offset. No single-partition global window."""
    spark = df.sparkSession
    t = (
        df.repartitionByRange(num_parts, order_col)
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    counts = {r["_pid"]: r["cnt"] for r in t.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()}
    offsets, acc = [], 0
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    off_df = spark.createDataFrame(pd.DataFrame(offsets, columns=["_pid", "_off"]))
    w = Window.partitionBy("_pid").orderBy(order_col)
    out = (
        t.withColumn("_local", F.row_number().over(w))
        .join(F.broadcast(off_df), "_pid")
        .withColumn(id_col, (F.col("_off") + F.col("_local")).cast("long"))
        .drop("_pid", "_local", "_off")
    )
    # NOTE: `t` stays persisted until the caller's terminal write — the
    # window + join re-read it, and _pid must not be recomputed under a
    # different partitioning. Footprint is one row per distinct term.
    return out


def estimate_corpus_bytes(corpus: DataFrame) -> int | None:
    """Driver-cheap corpus size estimate: sum of the input files' on-disk
    sizes (local paths only — returns None for object stores or in-memory
    frames, where the caller should pass explicit stats)."""
    import os
    import re

    total = 0
    try:
        files = corpus.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    for f in files:
        p = re.sub(r"^file:/+", "/", f)
        if not p.startswith("/") or not os.path.exists(p):
            return None
        total += os.path.getsize(p)
    return total


def auto_num_shards(
    total_bytes: int,
    *,
    compression_factor: float = 3.0,
    bytes_per_token: float = 6.0,
    target_shard_tokens: int = 16_000_000,
    max_shards: int = 65_536,
    min_shards: int = 1,
) -> int:
    """Shard-count sizing rule (the per-shard memory knob).

    The shard postings kernel (``_arrow_postings_kernel``) materializes
    one whole shard's (term, ord, tf, dl) arrays in a single Arrow group,
    so the peak task memory is ~50 bytes × shard tokens; the shard count —
    not executor count — bounds it. Estimate raw tokens as
    ``total_bytes × compression_factor / bytes_per_token`` (parquet text
    compresses ~3×; a code token averages ~5 chars + separator) and size
    shards to ``target_shard_tokens`` each (16 M tokens ≈ 0.8 GiB peak —
    fits a 2 GiB-per-core executor with headroom). The formula is
    monotone in corpus size, so a 100× corpus gets 100× shards and the
    same per-task footprint; query cost stays flat because search prunes
    by term first and fans out per shard.

    ``min_shards`` is a parallelism floor: extra shards never raise the
    per-task footprint (they shrink it), but fewer shards than cores
    leaves the cluster idle during the postings stage, so callers pass
    the session's default parallelism. The memory bound is one-sided —
    flooring can only lower peak task memory."""
    est_tokens = max(1.0, total_bytes * compression_factor / bytes_per_token)
    import math

    return min(max_shards, max(1, min_shards, math.ceil(est_tokens / target_shard_tokens)))


def build_index(
    spark: SparkSession,
    corpus: DataFrame,
    index_dir: str,
    *,
    num_shards: int | None = DEFAULT_NUM_SHARDS,
    tokenizer: str = "code",
    text_col: str = "content",
    resume: bool = False,
    only_shards: list[int] | None = None,
    max_doc_size: int = MAX_DOC_SIZE,
    pretokenized: bool = False,
) -> IndexTables:
    """Build (or resume) the index. ``only_shards`` restricts the build to
    a shard subset (simulates an interrupted build in tests); ``resume``
    skips shards already recorded in the lineage table. ``num_shards=None``
    applies the :func:`auto_num_shards` sizing rule to the estimated
    corpus size (falling back to ``DEFAULT_NUM_SHARDS`` when the input
    isn't file-backed).

    ``pretokenized=True`` takes a corpus that already carries a ``tokens``
    array column (and optionally ``content_sha256``) and skips the
    tokenizer — the segment-compaction path (streaming/incremental.py)
    rebuilds from stored forward indexes without re-tokenizing.

    ``corpus_stats`` records ``tokenizer`` (for a pretokenized corpus,
    the one that made its tokens); readers tokenize queries with it.

    The fwd table always stores the full token sequence (positional /
    parsedText mode — proximity scoring needs no rebuild)."""
    if tokenizer not in TOKENIZERS:
        raise ValueError(f"unknown tokenizer {tokenizer!r}; expected one of {sorted(TOKENIZERS)}")
    tables = IndexTables(index_dir)
    build_id = uuid.uuid4().hex[:12]

    if num_shards is None:
        est = estimate_corpus_bytes(corpus)
        floor = spark.sparkContext.defaultParallelism
        num_shards = auto_num_shards(est, min_shards=floor) if est else max(DEFAULT_NUM_SHARDS, floor)

    docs = derive_doc_id(corpus)
    docs = docs.withColumn("shard", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(num_shards)).cast("int"))

    done: set[int] = set()
    if resume and _path_exists(spark, tables.lineage_dir):
        done = {int(r.shard) for r in tables.lineage(spark).select("shard").distinct().collect()}
    todo = [s for s in range(num_shards) if s not in done]
    if only_shards is not None:
        todo = [s for s in todo if s in only_shards]
    if not todo:
        _finalize(spark, tables, tokenizer)
        return tables
    partial = len(todo) < num_shards
    if partial:
        docs = docs.filter(F.col("shard").isin(todo))
    # dynamic mode only when overwriting a shard subset (resume); a full
    # build uses the cheaper static overwrite (one commit, no per-partition
    # staging moves).
    ow_mode = "dynamic" if partial else "static"

    t0 = time.time()

    # ---- Stage 1: forward index — tokenize on the input splits, no
    # pre-shuffle of raw content (module docstring).
    if pretokenized:
        if "tokens" not in docs.columns:
            raise ValueError("pretokenized=True requires a 'tokens' array column")
        sha = (
            F.col("content_sha256")
            if "content_sha256" in docs.columns
            else F.lit(None).cast("string")
        )
        fwd = docs.select(
            "shard",
            "doc_id",
            "tokens",
            F.size("tokens").cast("long").alias("doc_len"),
            sha.alias("content_sha256"),
        )
    else:
        tok = _tokens_udf(tokenizer)
        fwd = (
            docs.withColumn("tokens", tok(F.substring(F.col(text_col), 1, max_doc_size)))
            .withColumn("doc_len", F.size("tokens").cast("long"))
            .withColumn("content_sha256", F.sha2(F.col(text_col), 256))
            .select("shard", "doc_id", "tokens", "doc_len", "content_sha256")
        )
    from pyspark import StorageLevel

    # Repartition AFTER tokenizing (compact arrays, not raw content): one
    # file per shard directory instead of tasks x shards small files — the
    # job-commit rename pass is serial on the driver and dominates
    # otherwise. The sort + window ride the SAME exchange (hash(shard)
    # satisfies the window's distribution, the sort its ordering), so
    # per-shard dense ordinals cost no extra shuffle or sort — and no
    # separate doc-map job. exactly num_shards partitions (not
    # spark.sql.shuffle.partitions): hash(shard) over 4x-cores shards
    # balances, and HashPartitioning satisfies the stage-2 groupBy
    # clustering so no second exchange appears.
    fwdp = (
        fwd.repartition(num_shards, "shard")
        .sortWithinPartitions("shard", "doc_id")
        .withColumn(
            "ord",
            F.row_number().over(Window.partitionBy("shard").orderBy("doc_id")).cast("long") - 1,
        )
        # ONE shuffle for the whole build: the fwd write, the postings
        # kernel and the lineage agg all consume these shard-complete
        # partitions. DISK_ONLY keeps the cache serialized (executor-local
        # spill dirs — tmpfs here, NVMe on a cluster); a deserialized
        # in-memory cache of token arrays churns the heap for no benefit.
        .persist(StorageLevel.DISK_ONLY)
    )
    (
        fwdp.write.mode("overwrite")
        .option("partitionOverwriteMode", ow_mode)
        .partitionBy("shard")
        .parquet(tables.fwd_dir)
    )

    # ---- Stage 2: inverted postings, one Arrow-native pass per shard.
    plist = (
        fwdp.select("shard", "ord", "doc_len", "tokens")
        .groupBy("shard")
        .applyInArrow(_arrow_postings_kernel, _POSTINGS_SCHEMA)
    )
    (
        plist.sortWithinPartitions("shard", "term")  # row-group stats → term pushdown at query time
        .write.mode("overwrite")
        .option("partitionOverwriteMode", ow_mode)
        .partitionBy("shard")
        .parquet(tables.postings_dir)
    )

    # ---- Lineage: one row per completed shard (checkpoint-resume unit).
    duration = time.time() - t0
    lineage = (
        fwdp.groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("doc_len").alias("total_tokens"),
            F.sum(F.crc32(F.col("content_sha256"))).alias("checksum"),
        )
        .withColumn("build_id", F.lit(build_id))
        .withColumn("duration_sec", F.lit(float(duration)))
    )
    # replace-by-shard semantics: a rebuilt shard's old lineage row must
    # not survive (stats are derived from lineage — no double counting).
    # The table is tiny (one row per shard) so collect+rewrite is safe.
    old = (
        tables.lineage(spark).filter(~F.col("shard").isin(todo)).toPandas()
        if _path_exists(spark, tables.lineage_dir)
        else None
    )
    new = lineage.toPandas()
    fwdp.unpersist()
    merged = pd.concat([old, new], ignore_index=True) if old is not None and len(old) else new
    _write_control_table(
        spark, merged, tables.lineage_dir,
        "shard int, n_docs long, total_tokens long, checksum long, build_id string, duration_sec double",
    )

    _finalize(spark, tables, tokenizer)
    return tables


def _path_exists(spark: SparkSession, path: str) -> bool:
    """``path`` exists, asked of the Hadoop FileSystem of its scheme (a
    read error on an existing table then propagates instead of looking
    like an absent one)."""
    jpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()).exists(jpath)


# Vocabularies up to this size are driver-sized: finalize takes the
# collect→pandas fast path (3 Spark jobs fewer; larger ones use the
# fully-distributed id assignment), and a warmed searcher caches the whole
# term→idf map driver-side.
SMALL_VOCAB = 2_000_000


def _write_control_table(spark: SparkSession, pdf: pd.DataFrame, path: str, schema: str) -> None:
    """Write a driver-small control table (lineage / corpus stats / small
    dictionary — O(shards) to O(vocab) rows) as parquet WITHOUT a Spark
    job: the job-launch + commit round trip costs more than the data.
    Falls back to a Spark write when the path isn't driver-writable local
    storage (e.g. an object store on a real cluster)."""
    import os
    import re
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    # only local filesystem paths take the driver-side fast path; any other
    # scheme (s3a://, hdfs://, ...) goes through Spark, whose Hadoop
    # filesystems know how to reach it
    m = re.match(r"^([A-Za-z][A-Za-z0-9+.-]*):/+", path)
    scheme = m.group(1).lower() if m else None
    local = scheme in (None, "file")
    p = re.sub(r"^file:/+", "/", path) if scheme == "file" else path
    if local:
        try:
            # convert BEFORE deleting the old table: an Arrow conversion
            # error must not destroy the existing lineage/dictionary
            table = pa.Table.from_pandas(pdf, preserve_index=False)
            if os.path.isdir(p):
                shutil.rmtree(p)
            os.makedirs(p, exist_ok=True)
            pq.write_table(table, f"{p}/part-00000.parquet")
            with open(f"{p}/_SUCCESS", "w"):
                pass
            return
        except Exception:
            # any driver-side failure (OSError, ArrowInvalid, ...) falls
            # back to the Spark writer, which rewrites the table atomically
            pass
    df = spark.createDataFrame(pdf, schema=schema) if len(pdf) == 0 else spark.createDataFrame(pdf)
    df.coalesce(1).write.mode("overwrite").parquet(path)


def bm25_idf(n_docs: int, df: np.ndarray) -> np.ndarray:
    """idf = ln(1 + (N - df + 0.5)/(df + 0.5))  (BM25SimilarityLucene.java:41-44).
    Query-time idf (search/engine.py) and the finalize fast path's idf
    column both come from this one expression."""
    return np.log(1.0 + (float(n_docs) - df + 0.5) / (df + 0.5))


def _finalize(spark: SparkSession, tables: IndexTables, tokenizer: str) -> None:
    """Idempotent global merge: dictionary (term_id, df, idf) + corpus
    stats, recomputed from ALL shards — resume-safe (no double counting).

    Corpus stats come from the lineage table (one row per completed
    shard — exact, and avoids a full forward-index scan)."""
    lin = spark.read.parquet(tables.lineage_dir).select("n_docs", "total_tokens").toPandas()
    n_docs = int(lin["n_docs"].sum())
    total_tokens = int(lin["total_tokens"].sum())
    avgdl = (total_tokens / n_docs) if n_docs else 1.0
    stats_pdf = pd.DataFrame(
        {"n_docs": [n_docs], "total_tokens": [total_tokens], "avg_doc_len": [float(avgdl)], "tokenizer": [tokenizer]}
    )
    _write_control_table(
        spark, stats_pdf, tables.corpus_stats_dir,
        "n_docs long, total_tokens long, avg_doc_len double, tokenizer string",
    )

    # explicit schema: a corpus whose docs ALL tokenize to zero tokens
    # (kept per F1/F2) writes a zero-file postings table, where schema
    # inference would fail (fuzz-found)
    posts = spark.read.schema(_POSTINGS_SCHEMA).parquet(tables.postings_dir)
    # global df merge: ≤ num_shards rows per term — skew-free by construction
    dic = posts.groupBy("term").agg(F.sum("df_shard").alias("df"))
    head = dic.limit(SMALL_VOCAB + 1).toPandas()
    if len(head) == 0:
        spark.createDataFrame([], "term string, term_id long, df long, idf double").coalesce(
            1
        ).write.mode("overwrite").parquet(tables.dictionary_dir)
        return
    if len(head) <= SMALL_VOCAB:
        # fast path: sort + dense ids + idf in pandas, one small write
        head = head.sort_values("term", kind="mergesort").reset_index(drop=True)
        head["term_id"] = np.arange(1, len(head) + 1, dtype=np.int64)
        head["idf"] = bm25_idf(n_docs, head["df"].to_numpy(np.float64))
        _write_control_table(
            spark, head[["term", "term_id", "df", "idf"]], tables.dictionary_dir,
            "term string, term_id long, df long, idf double",
        )
        return
    dic = assign_dense_ids(dic, "term", "term_id")
    # idf = ln(1 + (N - df + 0.5)/(df + 0.5))  (BM25SimilarityLucene.java:41-44)
    dic = dic.withColumn(
        "idf",
        F.log(F.lit(1.0) + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))),
    ).select("term", "term_id", "df", "idf")
    dic.write.mode("overwrite").parquet(tables.dictionary_dir)
