#!/usr/bin/env python
"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS], measures indexing throughput at TWO parallelism
levels (local[1] vs local[4] — the sandbox proxy for N vs 4N executors;
rationale at LOW_PAR below and in BENCH/BASELINE.md) plus per-query p50
latency, and prints ONE JSON line. It writes no file unless given an
output path:

    python bench.py                      # the JSON line only
    python bench.py BENCH/BASELINE.md    # also the measured tables

With a path, everything below BASELINE_MARK in that file is replaced by
this run's tables; the hand-kept text above the mark stays.

The indexing corpus uses realistic source-file sizes
(fixtures.make_corpus_scaled: median ~450 tokens/doc ≈ a few hundred
lines) — with unit-test-sized ~60-token docs the per-build fixed costs
(job launch, commit, planning: ~4-5 s regardless of cores) dominate and
the measurement reflects driver overhead, not the engine.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pandas as pd  # noqa: E402  (module scope: pandas_udf type hints)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))
SCALE_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "120000"))
REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))  # paired (N, 4N)
# measurement rounds; each run gets a fresh session + small JIT-warmup
# build, and efficiency is the median of per-pair ratios (see
# measure_scaling). All reps are reported.
TMP = "/dev/shm" if os.path.isdir("/dev/shm") else None
# N vs 4N proxy. Why 1 and 4: beyond ~4 concurrent task threads this
# single VM saturates its shared memory bus — a PURE-JVM 380 MB
# shuffle+write scales only 0.57x/core from local[4]→local[16], with zero
# Python involved — so higher pairs measure the box, not the engine.
# local[1] vs local[4] is the one pair where BOTH levels get full
# per-core bandwidth, which is exactly what separate executor hosts get
# on a real cluster. Measured ladder for this build (docs/s, warm):
# 1: ~640, 2: ~1090, 4: ~2500, 8: ~3100, 16: ~6100 — near-linear to 4,
# bandwidth-capped beyond.
LOW_PAR, HIGH_PAR = 1, 4
SCALING_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_SCALING_DOCS", "60000"))
HEADLINE_REPS = int(os.environ.get("SPARK_GRAFT_BENCH_HEADLINE_REPS", "3"))
SCALE_CHECK = "BENCH/SCALE_CHECK.json"

HEADLINE = [
    "bm25_topk",
    "bm25_topk_relational",
    "bm25_topk_qnorm",
    "term_dictionary",
    "tfidf_cosine",
    "dedup_jaccard",
    "dedup_minhash_lsh",
    "dedup_components",
    "emb_cosine_topk",
    "emb_pq_ann",
    "emb_ivfpq_ann",
    "colbert_maxsim",
    "rm3_rerank",
    "krovetz_stem",
    "text_quality",
    "events_minutely",
]
# dedup_embedding is deliberately NOT a headline: its entry runs the
# banded-LSH path at τ=0.45 — a threshold chosen so the synthetic corpus
# yields nonzero pairs, but one where ANY candidate generator (LSH or
# all-pairs) degenerates toward n² because τ=0.45 is close to the random-
# pair cosine. The operator's scale posture at its real thresholds
# (τ≥0.9) is enforced structurally instead: plan-asserted no
# CartesianProduct + banded candidate volume (tests/test_operators.py).


def _spark(master: str, shuffle: int):
    from flexneuart_spark.session import get_spark

    spark = get_spark("bench", master=master, shuffle_partitions=shuffle)
    # warm python workers / codegen so throughput excludes one-time startup
    from pyspark.sql import functions as F, types as T

    @F.pandas_udf(T.LongType())
    def _pu(s: pd.Series) -> pd.Series:
        return s * 2

    spark.range(100000).repartition(64).select(F.sum(_pu(F.col("id")))).collect()
    return spark


def run_headline(spark) -> tuple[dict[str, float], dict[str, list[float]]]:
    """Noise-cancelled headline timing: the WHOLE suite runs
    HEADLINE_REPS times (outer rep loop, so a VM slow window inflates one
    suite pass, not every rep of one query), and each query reports the
    MEDIAN across reps plus the raw rep list — the same discipline the
    indexing scaling measurement uses. The first pass pays one-time costs
    (the bm25 entries build + cache the engine index per sf_dir); the
    median therefore reads the steady state, and the build cost is
    measured separately as indexing throughput."""
    import __spark_entry__ as entrymod

    reg = entrymod.queries()
    reps: dict[str, list[float]] = {name: [] for name in HEADLINE}
    for rep in range(HEADLINE_REPS):
        for name in HEADLINE:
            fn = reg[name]
            t0 = time.time()
            n = fn(spark, SF_DIR).count()
            dt = round(time.time() - t0, 3)
            reps[name].append(dt)
            print(f"  headline rep{rep} {name}: {dt}s ({n} rows)", file=sys.stderr)
    med = {name: round(statistics.median(v), 3) for name, v in reps.items()}
    return med, reps


def _one_indexing_run(par: int, corpus_path: str, warm_docs: int = 8000) -> float:
    """One fresh session at local[par]: small warm-up build (JIT + python
    workers), then ONE measured full build. Returns docs/sec."""
    from flexneuart_spark.index.builder import build_index

    spark = _spark(f"local[{par}]", par)
    try:
        corpus = spark.read.parquet(corpus_path)
        n = corpus.count()
        warm_idx = tempfile.mkdtemp(prefix="fxn_bench_warm_", dir=TMP)
        try:
            build_index(spark, corpus.limit(warm_docs), warm_idx, tokenizer="code")
        finally:
            shutil.rmtree(warm_idx, ignore_errors=True)
        idx = tempfile.mkdtemp(prefix="fxn_bench_idx_", dir=TMP)
        try:
            t0 = time.time()
            build_index(spark, corpus, idx, tokenizer="code")
            return n / (time.time() - t0)
        finally:
            shutil.rmtree(idx, ignore_errors=True)
    finally:
        spark.stop()


def measure_scaling(corpus_path: str) -> tuple[dict, dict, float, list[float]]:
    """PAIRED scaling measurement: each rep runs local[LOW] and
    local[HIGH] back-to-back (fresh session each), so slow windows of the
    shared VM hit both sides of a pair rather than one whole level. The
    reported efficiency is the MEDIAN of per-pair ratios (robust to
    drift); throughputs are best-of-reps."""
    runs: dict[int, list[float]] = {LOW_PAR: [], HIGH_PAR: []}
    ratios: list[float] = []
    for rep in range(REPS):
        for par in (LOW_PAR, HIGH_PAR):
            thr = _one_indexing_run(par, corpus_path)
            runs[par].append(round(thr, 1))
            print(f"  indexing rep{rep} local[{par}]: {thr:.0f} docs/s", file=sys.stderr)
        ratios.append((runs[HIGH_PAR][-1] / runs[LOW_PAR][-1]) / (HIGH_PAR / LOW_PAR))
    thr_best = {p: max(v) for p, v in runs.items()}
    eff = statistics.median(ratios)
    return thr_best, runs, eff, [round(r, 3) for r in ratios]


def _dir_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total / 1e6


def _p50_stage_split(spark, s, query, k: int = 10, reps: int = 5) -> dict:
    """Stage-time decomposition for ONE warmed query (the reference's
    per-query latency accounting surface, BaseQueryApp.java:705-730,
    splits search / interm-rerank / final-rerank; this engine's p50 has
    no rerank stage, so the split that matters is planning / scheduling /
    kernel / merge). Each component is measured directly:

    - plan_build_s: driver-side ``search()`` call — tokenize, idf slice
      from the warmed cache, DataFrame assembly; no job runs;
    - plan_optimize_s: catalyst analyze+optimize of that plan, forced via
      ``queryExecution().executedPlan()``; still no job;
    - sched_floor_s: an EMPTY job with the same task count as the scoring
      stage (``parallelize(npart).count()``) — the pure task-scheduling
      round-trip floor of this scheduler;
    - kernel_cpu_*: the numpy MaxScore kernel run driver-side on the SAME
      postings rows (collected untimed) — total across shards plus the
      max single shard (the parallel-stage critical path);
    - total_s: the full ``df.count()``;
    - residual_scan_merge_s: total − plan − sched floor − kernel critical
      path = cache scan + Arrow ser/de + in-task doc-id labelling +
      window merge + scheduler queueing beyond the empty-job floor.
    """
    from pyspark.sql import functions as F

    from flexneuart_spark.search.scoring import TermPostings, maxscore_topk

    t = time.perf_counter
    build, opt, total = [], [], []
    for _ in range(reps):
        t0 = t()
        df = s.search([query], k=k)
        build.append(t() - t0)
        t0 = t()
        df._jdf.queryExecution().executedPlan()
        opt.append(t() - t0)
        t0 = t()
        df.count()
        total.append(t() - t0)
    npart = s._posts.rdd.getNumPartitions()  # = the scoring stage's task count
    sc = spark.sparkContext
    sc.parallelize(range(npart), npart).count()  # warm the probe path
    sched = []
    for _ in range(reps):
        t0 = t()
        sc.parallelize(range(npart), npart).count()
        sched.append(t() - t0)
    qtf, idf = s._prep([query])
    rows = s._posts.filter(F.col("term").isin(list(idf))).collect()
    qid = next(iter(qtf))
    wts = {tm: c * idf[tm] * (s.k1 + 1.0) for tm, c in qtf[qid].items() if tm in idf}
    by_shard: dict[int, dict] = {}
    for r in rows:
        by_shard.setdefault(int(r.shard), {})[r.term] = r
    shard_times = []
    for by_term in by_shard.values():
        entries = [
            TermPostings(
                r.payload, r.block_off, r.block_n,
                r.block_max_doc, r.block_max_tf, r.block_min_dl, w,
            )
            for tm, w in wts.items()
            if (r := by_term.get(tm)) is not None
        ]
        if not entries:
            continue
        t0 = t()
        maxscore_topk(entries, k, s.avgdl, s.k1, s.b)
        shard_times.append(t() - t0)
    med = statistics.median
    out = {
        "plan_build_s": round(med(build), 4),
        "plan_optimize_s": round(med(opt), 4),
        "sched_floor_s": round(med(sched), 4),
        "kernel_cpu_total_s": round(sum(shard_times), 4),
        "kernel_cpu_max_shard_s": round(max(shard_times), 4) if shard_times else 0.0,
        "kernel_shards": len(shard_times),
        "sched_tasks": npart,
        "total_s": round(med(total), 4),
    }
    out["residual_scan_merge_s"] = round(
        out["total_s"]
        - out["plan_build_s"]
        - out["plan_optimize_s"]
        - out["sched_floor_s"]
        - out["kernel_cpu_max_shard_s"],
        4,
    )
    return out


def measure_query_p50(spark, corpus_path: str) -> tuple[float, float, dict, dict]:
    """Per-query latency over the bench index (one search() per query —
    the reference's per-query ms accounting, BaseQueryApp.java:705-724),
    the built index's storage footprint, and the kernel comparison
    (maxscore vs bmw — result-identical; the published default is the
    measured winner)."""
    from flexneuart_spark.fixtures import make_queries
    from flexneuart_spark.index.builder import build_index
    from flexneuart_spark.search.engine import Searcher

    idx = tempfile.mkdtemp(prefix="fxn_bench_qidx_", dir=TMP)
    try:
        corpus = spark.read.parquet(corpus_path)
        t = build_index(spark, corpus, idx, tokenizer="code")
        sizes = {
            "postings_mb": round(_dir_mb(t.postings_dir), 1),
            "fwd_mb": round(_dir_mb(t.fwd_dir), 1),
            "dictionary_mb": round(_dir_mb(t.dictionary_dir), 1),
        }
        # interactive top-k jobs are a handful of tiny stages; AQE's
        # per-stage re-planning round trips roughly double their latency
        # (measured 2x p50 on the bench corpus), so the latency session
        # runs without it — set here, on the bench's own session
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        s = Searcher(spark, idx).warm()
        queries = [
            (r.query_id, r.text)
            for r in make_queries(21, seed=43).itertuples(index=False)
            if r.text
        ]
        import gc

        # untimed warm pass: p50 reads the steady state (the reference's
        # per-query ms accounting is for a long-running service; the very
        # first queries pay one-time codegen/broadcast costs)
        for qid, text in queries[:5]:
            s.search([(qid, text)], k=10).count()
        # kernel comparison: measure every result-identical kernel
        # INTERLEAVED (kernel inner loop, query outer) so VM drift hits
        # all kernels equally
        kernels = ("maxscore", "bmw")
        lat = {kern: [] for kern in kernels}
        for qid, text in queries:
            for kern in kernels:
                gc.collect()  # release py4j refs so broadcasts don't pile up
                t0 = time.time()
                s.search([(qid, text)], k=10, kernel=kern).count()
                lat[kern].append(time.time() - t0)
        compare = {f"p50_{kern}": round(statistics.median(v), 4) for kern, v in lat.items()}
        # batch mode: the whole query set in ONE pass over the index (the
        # reference's batch QueryApp shape) — the honest throughput number
        for kern in kernels:
            reps = []
            for _ in range(2):
                t0 = time.time()
                s.search(queries, k=10, kernel=kern).count()
                reps.append((time.time() - t0) / len(queries))
            compare[f"batch_per_query_{kern}"] = round(statistics.median(reps), 4)
        # stage-time split for one warmed query (round-4 verdict #7)
        compare["stage_split"] = _p50_stage_split(spark, s, queries[0], k=10)
        p50 = compare["p50_maxscore"]  # the DEFAULT serving config
        batch_per_query = compare["batch_per_query_maxscore"]
        return p50, batch_per_query, sizes, compare
    finally:
        shutil.rmtree(idx, ignore_errors=True)


BASELINE_MARK = "<!-- bench.py writes everything below this line; the text above is kept by hand -->\n"


def baseline_md(r: dict, scaling_mb: float, sc: dict | None) -> str:
    """The measured tables of one run, as markdown. Measured values only:
    how to read them lives in the hand-kept head of the output file."""
    lo, hi = f"local[{LOW_PAR}]", f"local[{HIGH_PAR}]"
    thr, mbs = r["indexing_docs_per_sec"], r["indexing_mb_per_sec"]
    sizes, kc = r["index_sizes_mb"], r["kernel_compare"]
    docs, corpus_mb = r["bench_corpus_docs"], r["bench_corpus_mb"]
    md = (
        f"Bench corpus: {docs} synthetic code docs, {corpus_mb:.0f} MB "
        f"(~{corpus_mb * 1000.0 / docs:.1f} KB/doc; fixtures.make_corpus_scaled seed=42);"
        f" headline queries at `{SF_DIR}`.\n\n"
        "| Metric | Value | Config |\n|---|---|---|\n"
        f"| Indexing throughput | {thr[lo]:.0f} docs/s ({mbs[lo]:.0f} MB/s) | {lo} (N proxy; {SCALING_DOCS}-doc / {scaling_mb:.0f} MB corpus) |\n"
        f"| Indexing throughput | {thr[hi]:.0f} docs/s ({mbs[hi]:.0f} MB/s) | {hi} (4N proxy) |\n"
        f"| Scaling efficiency N→4N | {r['scaling_efficiency']:.3f} | target ≥ 0.8; median of {REPS} paired (N, 4N) ratios {r['scaling_pair_ratios']}; all reps (docs/s): {r['indexing_reps_docs_per_sec']} |\n"
        f"| Query p50 latency (top-10) | {r['query_p50_sec']:.3f} s | local[{CPUS}], one search() per query (default maxscore kernel) |\n"
        f"| Query batch throughput | {r['query_batch_sec_per_query']:.3f} s/query | whole query set in one pass (reference batch-app shape) |\n"
        f"| Headline suite total | {r['value']:.1f} s | sum of per-query medians over {HEADLINE_REPS} interleaved suite passes; {len(r['queries'])} queries at sf={r['sf']} |\n"
        f"| Index footprint | postings {sizes['postings_mb']} MB, fwd {sizes['fwd_mb']} MB, dict {sizes['dictionary_mb']} MB | {docs}-doc / {corpus_mb:.0f} MB corpus (compressed postings = {sizes['postings_mb'] / corpus_mb * 100:.0f}% of raw text) |\n"
        "\nKernel comparison (all kernels result-identical, interleaved measurement,"
        " median over the same query set):\n\n"
        "| config | value |\n|---|---|\n"
        + "".join(f"| {k} | {v} s |\n" for k, v in kc.items() if not isinstance(v, dict))
    )
    ss = kc.get("stage_split")
    if ss:
        md += (
            "\np50 latency decomposition — one warmed query, each stage"
            " measured directly (medians of 5):\n\n"
            "| stage | sec | what it is |\n|---|---|---|\n"
            f"| plan_build | {ss['plan_build_s']} | driver-side search(): tokenize + idf slice + DataFrame assembly |\n"
            f"| plan_optimize | {ss['plan_optimize_s']} | catalyst analyze+optimize (queryExecution, no job) |\n"
            f"| sched_floor | {ss['sched_floor_s']} | EMPTY {ss['sched_tasks']}-task job (the scoring stage's task count) — pure task-scheduling round trip |\n"
            f"| kernel critical path | {ss['kernel_cpu_max_shard_s']} | slowest single shard's numpy MaxScore compute (total across {ss['kernel_shards']} shards: {ss['kernel_cpu_total_s']}) |\n"
            f"| residual scan+merge | {ss['residual_scan_merge_s']} | cache scan, Arrow ser/de, in-task doc-id labelling + window merge, queueing above the floor |\n"
            f"| **total** | {ss['total_s']} | full df.count() |\n"
        )
    md += (
        f"\nPer-query seconds (median of {HEADLINE_REPS} interleaved suite"
        " passes; rep 0 of the bm25 entries pays the one-time engine index"
        " build, so the median reads steady state):\n\n"
        "| query | median sec | reps |\n|---|---|---|\n"
        + "".join(f"| {k} | {v} | {r['queries_reps'][k]} |\n" for k, v in r["queries"].items())
    )
    if sc:
        md += (
            f"\n## 10x scale check (scripts/scale_bench.py @ {sc['measured_at_commit']})\n\n"
            f"Synthesized sf1 = {sc['factor']}x the sf0.1 tables. Headline suite"
            f" {sc['suite_total_base_sec']} s → {sc['suite_total_scaled_sec']} s"
            f" at {sc['factor']}x data = {sc['suite_growth']}x total growth."
            f" Queries growing >2x the data factor: {sc['flagged_gt_2x_data'] or 'none'}.\n\n"
            "| query | sf0.1 sec | sf1 sec | growth |\n|---|---|---|---|\n"
            + "".join(
                f"| {q} | {sc['headline']['base']['measured'][q]} | "
                f"{sc['headline']['scaled']['measured'][q]} | {g} |\n"
                for q, g in sc["growth_ratio"].items()
            )
            + f"\nIndexing at {sc['indexing_docs']} docs / {sc['indexing_corpus_mb']} MB: "
            + ", ".join(f"{k} {v} docs/s" for k, v in sc["indexing_docs_per_sec"].items())
            + f"; paired N→4N efficiency {sc['scaling_efficiency']} ({sc['scaling_reps']} pair).\n"
        )
    return md


def write_baseline(path: str, body: str) -> None:
    """Write ``body`` after BASELINE_MARK in ``path``, keeping the
    hand-kept text above the mark when the file already has one."""
    head = "# BENCH — measured numbers\n\n"
    if os.path.exists(path):
        with open(path) as f:
            text = f.read()
        if BASELINE_MARK in text:
            head = text.split(BASELINE_MARK)[0]
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w") as f:
        f.write(head + BASELINE_MARK + "\n" + body)


def main() -> None:
    # ---- synthetic bench corpus (deterministic, written once) ----
    from flexneuart_spark.fixtures import make_corpus_scaled

    import pyarrow as pa
    import pyarrow.parquet as pq

    corpus_dir = tempfile.mkdtemp(prefix="fxn_bench_corpus_", dir=TMP)
    corpus_path = f"{corpus_dir}/corpus.parquet"
    pdf = make_corpus_scaled(SCALE_DOCS, seed=42)
    corpus_mb = float(pdf["content"].str.len().sum()) / 1e6
    pq.write_table(pa.Table.from_pandas(pdf), corpus_path, row_group_size=2048)
    del pdf
    # smaller corpus for the scaling pair: local[1] runs it in minutes,
    # and the work:overhead ratio stays >10:1 at both levels
    scaling_path = f"{corpus_dir}/scaling.parquet"
    spdf = make_corpus_scaled(SCALING_DOCS, seed=42)
    scaling_mb = float(spdf["content"].str.len().sum()) / 1e6
    pq.write_table(pa.Table.from_pandas(spdf), scaling_path, row_group_size=2048)
    del spdf

    # ---- scaling: the SAME job at two parallelism levels (identical
    # shard count/plan; only executor-thread count changes), paired reps ----
    thr, all_reps, eff, pair_ratios = measure_scaling(scaling_path)

    # ---- headline queries + query latency at local[CPUS] ----
    spark = _spark(f"local[{CPUS}]", CPUS)
    qtimes, qreps = run_headline(spark)
    # suite = sum of per-query MEDIANS (the noise-cancelled figure);
    # comparable round-over-round, unlike the old single-shot wall time
    suite_sec = round(sum(qtimes.values()), 3)
    p50, batch_pq, index_sizes, kernel_compare = measure_query_p50(spark, corpus_path)
    spark.stop()
    shutil.rmtree(corpus_dir, ignore_errors=True)

    # MB/s figures must use the corpus the throughput was MEASURED on
    scaling_kb = scaling_mb * 1000.0 / SCALING_DOCS
    results = {
        "metric": "headline_suite_sec",
        "value": suite_sec,
        "unit": "sec",
        "queries": qtimes,
        "queries_reps": qreps,
        "headline_reps": HEADLINE_REPS,
        "sf": float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in SF_DIR else None,
        "indexing_docs_per_sec": {
            f"local[{LOW_PAR}]": round(thr[LOW_PAR], 1),
            f"local[{HIGH_PAR}]": round(thr[HIGH_PAR], 1),
        },
        "indexing_mb_per_sec": {
            f"local[{LOW_PAR}]": round(thr[LOW_PAR] * scaling_kb / 1000.0, 1),
            f"local[{HIGH_PAR}]": round(thr[HIGH_PAR] * scaling_kb / 1000.0, 1),
        },
        "scaling_efficiency": round(eff, 3),
        "scaling_pair_ratios": pair_ratios,
        "indexing_reps_docs_per_sec": {f"local[{k}]": v for k, v in all_reps.items()},
        "bench_corpus_docs": SCALE_DOCS,
        "bench_corpus_mb": round(corpus_mb, 1),
        "query_p50_sec": round(p50, 4),
        "index_sizes_mb": index_sizes,
        "query_batch_sec_per_query": round(batch_pq, 4),
        "kernel_compare": kernel_compare,
    }

    # ---- 10x scale check (scripts/scale_bench.py) ----
    # the sf1 run takes ~1 h standalone (a 1.2 M-doc local[1] build), so
    # it is measured out-of-band; the printed line names the committed
    # artifact by path (embedding it made the line unparseable for its
    # consumers). measured_at_commit pins which code produced the numbers
    scale = None
    if os.path.exists(SCALE_CHECK):
        results["scale_check"] = SCALE_CHECK
        with open(SCALE_CHECK) as f:
            scale = json.load(f)
    if len(sys.argv) > 1:
        write_baseline(sys.argv[1], baseline_md(results, scaling_mb, scale))

    print(json.dumps(results))


if __name__ == "__main__":
    main()
