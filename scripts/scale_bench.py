#!/usr/bin/env python
"""10x scale check (round-4 verdict ask #1): run the headline suite and
the indexing-scaling pair at BOTH sf0.1 and a synthesized 10x ("sf1")
scale, and record per-query growth vs the data factor.

Writes ``BENCH/SCALE_CHECK.json``; ``bench.py`` embeds that file into
its JSON line (key ``scale_check``) so the per-round ``BENCH_r{N}.json``
carries both scale factors. Run detached — the full check takes ~1 h,
dominated by the local[1] build of the 1.2 M-doc corpus:

    nohup python scripts/scale_bench.py > /tmp/scale_bench.log 2>&1 &

Scaled-data synthesis (deterministic, derived from the read-only
driver tables — nothing external):

- ``documents``: each base row becomes ``factor`` rows; replica 0 keeps
  the text, replicas r>0 get a seeded word-level permutation — term
  statistics (doc length, tf, df x factor, vocabulary) are preserved
  EXACTLY while shingle/MinHash/SimHash twins are destroyed, so the
  dedup workloads scale in data volume without the artificial
  every-doc-has-9-identical-twins blowup plain replication would cause.
- ``embeddings``: replicas get seeded gaussian noise at 5% of the
  component scale — cosine structure (labels, cluster geometry) is kept
  while exact-duplicate vectors are avoided.
- ``events``: replicas shift ``event_id``/``ts`` by r microseconds —
  identical per-minute distribution, 10x rows per group.

Indexing scaling at this scale runs ONE paired (local[1], local[4])
rep: a ~30-minute local[1] build integrates over the VM's noise windows
far better than the 60 k-doc pair's minutes-long runs, and the pairing
still cancels drift. The corpus is ``make_corpus_scaled`` at 10x
SCALE_DOCS (1.2 M docs, ~3.8 GB), generated in id-offset chunks so
synthesis memory stays bounded.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Size the single local-mode JVM for the 10x working set: driver ==
# executor == block manager here, so the scaled suite's cached posting
# tables + broadcasts live in ONE heap (a cluster spreads them across
# executors). 8g (the test default) OOMs a broadcast build at 1.2M docs.
os.environ.setdefault("SPARK_DRIVER_MEM", "64g")

BASE_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))
FACTOR = int(os.environ.get("SPARK_GRAFT_SCALE_FACTOR", "10"))
SCALE_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "120000")) * FACTOR
CHUNK = 100_000
HEADLINE_PASSES = int(os.environ.get("SPARK_GRAFT_SCALE_PASSES", "2"))  # warm + measured
TMP = "/dev/shm" if os.path.isdir("/dev/shm") else None
OFFSET = 10_000_000  # doc/vec/event id stride between replicas


def synthesize_scaled_tables(spark, base_dir: str, out_dir: str, factor: int) -> None:
    """documents/embeddings/events at ``factor``x, derived from
    ``base_dir`` (see module docstring for the per-table recipe)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F, types as T

    reps = spark.range(factor).select(F.col("id").cast("int").alias("r"))

    docs = spark.read.parquet(f"{base_dir}/documents.parquet").crossJoin(F.broadcast(reps))

    # no type hints: `from __future__ import annotations` stringifies
    # them and the locally-imported pandas alias can't be resolved by the
    # UDF signature inference — the legacy SCALAR eval type is explicit
    @F.pandas_udf(T.StringType(), F.PandasUDFType.SCALAR)
    def permute_text(text, doc_id, r):
        out = []
        for t, d, rr in zip(text, doc_id, r):
            if rr == 0 or not t:
                out.append(t)
                continue
            words = t.split(" ")
            rng = np.random.default_rng((int(d) * 1_000_003 + int(rr)) % (2**63))
            rng.shuffle(words)
            out.append(" ".join(words))
        return pd.Series(out)

    (
        docs.select(
            (F.col("doc_id") + F.col("r").cast("long") * OFFSET).alias("doc_id"),
            permute_text("text", "doc_id", "r").alias("text"),
            "lang",
            "source",
        )
        .withColumn("n_chars", F.length("text").cast("long"))
        .repartition(CPUS)
        .write.mode("overwrite")
        .parquet(f"{out_dir}/documents.parquet")
    )

    emb = spark.read.parquet(f"{base_dir}/embeddings.parquet").crossJoin(F.broadcast(reps))

    @F.pandas_udf(T.ArrayType(T.FloatType()), F.PandasUDFType.SCALAR)
    def perturb(vec, vec_id, r):
        out = []
        for v, i, rr in zip(vec, vec_id, r):
            a = np.asarray(v, dtype=np.float32)
            if rr != 0:
                rng = np.random.default_rng((int(i) * 999_983 + int(rr)) % (2**63))
                a = a + rng.normal(0.0, 0.05 * (np.abs(a).mean() + 1e-9), size=a.shape).astype(
                    np.float32
                )
            out.append(a)
        return pd.Series(out)

    (
        emb.select(
            (F.col("vec_id") + F.col("r").cast("long") * OFFSET).alias("vec_id"),
            perturb("embedding", "vec_id", "r").alias("embedding"),
            "label",
        )
        .repartition(CPUS)
        .write.mode("overwrite")
        .parquet(f"{out_dir}/embeddings.parquet")
    )

    ev = spark.read.parquet(f"{base_dir}/events.parquet").crossJoin(F.broadcast(reps))
    (
        ev.select(
            (F.col("event_id") + F.col("r").cast("long") * OFFSET).alias("event_id"),
            (F.col("ts") + F.make_interval(secs=F.col("r") * F.lit(1e-6))).alias("ts"),
            "user_id",
            "event_type",
            "value",
            "props",
        )
        .repartition(CPUS)
        .write.mode("overwrite")
        .parquet(f"{out_dir}/events.parquet")
    )


def write_scaled_corpus(path: str, n_docs: int) -> float:
    """Chunked make_corpus_scaled -> one parquet dir; returns MB of text."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from flexneuart_spark.fixtures import make_corpus_scaled

    total_mb = 0.0
    os.makedirs(path, exist_ok=True)
    nchunks = (n_docs + CHUNK - 1) // CHUNK
    for c in range(nchunks):
        n = min(CHUNK, n_docs - c * CHUNK)
        pdf = make_corpus_scaled(n, seed=42 + c, id_offset=c * CHUNK)
        total_mb += float(pdf["content"].str.len().sum()) / 1e6
        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False),
            f"{path}/part-{c:04d}.parquet",
            row_group_size=2048,
        )
        del pdf
        print(f"  corpus chunk {c + 1}/{nchunks} written", file=sys.stderr)
    return total_mb


def main() -> None:
    import bench  # the per-session warmed _spark + headline machinery

    t_start = time.time()
    # capture at START: later commits in the same session must not be
    # recorded as the code under measurement
    git_sha = subprocess.run(
        ["git", "rev-parse", "--short", "HEAD"], capture_output=True, text=True
    ).stdout.strip()
    work = tempfile.mkdtemp(prefix="fxn_scale_", dir=TMP)
    scaled_dir = f"{work}/sf{FACTOR}x"

    # ---- synthesize the scaled query tables ----
    spark = bench._spark(f"local[{CPUS}]", CPUS)
    synthesize_scaled_tables(spark, BASE_SF_DIR, scaled_dir, FACTOR)
    n_docs_scaled = spark.read.parquet(f"{scaled_dir}/documents.parquet").count()
    spark.stop()
    print(f"synthesized {scaled_dir}: {n_docs_scaled} docs", file=sys.stderr)

    # ---- headline suite at both scale factors ----
    # fresh session per sf_dir; pass 0 warms (engine index build + JIT),
    # the LAST pass is the measured figure
    suite: dict[str, dict] = {}
    for label, sf_dir in (("base", BASE_SF_DIR), ("scaled", scaled_dir)):
        spark = bench._spark(f"local[{CPUS}]", CPUS)
        import __spark_entry__ as entrymod

        reg = entrymod.queries()
        passes: dict[str, list[float]] = {q: [] for q in bench.HEADLINE}
        for p in range(HEADLINE_PASSES):
            for q in bench.HEADLINE:
                t0 = time.time()
                n = reg[q](spark, sf_dir).count()
                dt = round(time.time() - t0, 3)
                passes[q].append(dt)
                print(f"  [{label}] pass{p} {q}: {dt}s ({n} rows)", file=sys.stderr)
        spark.stop()
        suite[label] = {
            "sf_dir": sf_dir,
            "measured": {q: v[-1] for q, v in passes.items()},
            "passes": passes,
            "total_measured": round(sum(v[-1] for v in passes.values()), 3),
        }

    growth = {
        q: round(suite["scaled"]["measured"][q] / max(suite["base"]["measured"][q], 1e-9), 2)
        for q in bench.HEADLINE
    }
    flagged = {q: g for q, g in growth.items() if g > 2.0 * FACTOR}

    # ---- indexing scaling at the 10x corpus: one paired rep ----
    corpus_path = f"{work}/corpus10x"
    corpus_mb = write_scaled_corpus(corpus_path, SCALE_DOCS)
    thr = {}
    for par in (bench.LOW_PAR, bench.HIGH_PAR):
        t0 = time.time()
        thr[par] = round(bench._one_indexing_run(par, corpus_path), 1)
        print(
            f"  indexing local[{par}]: {thr[par]:.0f} docs/s "
            f"({time.time() - t0:.0f}s wall)",
            file=sys.stderr,
        )
    eff = round((thr[bench.HIGH_PAR] / thr[bench.LOW_PAR]) / (bench.HIGH_PAR / bench.LOW_PAR), 3)

    shutil.rmtree(work, ignore_errors=True)

    out = {
        "factor": FACTOR,
        "measured_at_commit": git_sha,
        "wall_s": round(time.time() - t_start, 1),
        "headline": suite,
        "growth_ratio": growth,
        "data_factor": FACTOR,
        "flagged_gt_2x_data": flagged,
        "suite_total_base_sec": suite["base"]["total_measured"],
        "suite_total_scaled_sec": suite["scaled"]["total_measured"],
        "suite_growth": round(
            suite["scaled"]["total_measured"] / suite["base"]["total_measured"], 2
        ),
        "indexing_docs": SCALE_DOCS,
        "indexing_corpus_mb": round(corpus_mb, 1),
        "indexing_docs_per_sec": {f"local[{p}]": v for p, v in thr.items()},
        "scaling_efficiency": eff,
        "scaling_reps": 1,
    }
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/SCALE_CHECK.json", "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
