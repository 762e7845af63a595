"""One benchmark run: a workload's inputs through the engine's public calls.

Phases (each timed phase follows an untimed warm-up of the same code path):

1. session   ``get_spark`` at ``local[<cpus>]``.
2. inputs    seeded corpus + queries (untimed), written as one parquet file.
3. warm-up   ``build_index``, ``Searcher`` + ``.warm()``, single queries and
             batches on a twentieth of the corpus, while a second thread
             computes the reference run (``bm25_topk_relational``); the
             queries go on until the reference is done.
4. rounds    ROUNDS times: a timed, checked ``build_index`` of the whole
             corpus; ``Searcher(...)`` + ``.warm()`` on it from a clear
             cache; single-query ``search([q], k).collect()`` in a closed
             loop, one client, for ``seconds / ROUNDS``, with
             BATCHES_PER_ROUND timed batches (the whole query set in one
             ``search``) spread through the loop, after one untimed query.
5. host      empty Spark job + CPU probe.

A traced run (``trace=True``) adds an event log, spans around every call,
the driver-side layer probes and an incremental-ingest phase (streamed
micro-batches, fresh ``SegmentedSearcher`` queries, ``compact_segments``).
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import threading
import time
import traceback
from contextlib import nullcontext

from perfbench import inputs, probes, reference
from perfbench.trace import EventLog, Tracer, tag_engine_sites

K = 10
HEAP = "2g"  # driver JVM heap, initial and max
ROUNDS = 2  # build + setup + query/batch rounds in one run
BATCHES_PER_ROUND = 2
WARMUP_QUERIES = 2  # at least; more while the reference run lasts
MIN_QUERIES = 14
FRESH_QUERIES = 2  # per micro-batch, traced ingest phase

END_TO_END = {
    "setup_s": "s",
    "build_docs_per_s": "docs/s",
    "index_bytes_per_input_byte": "ratio",
    "query_p50_ms": "ms",
    "query_p90_ms": "ms",
    "batch_qps": "1/s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "tokenize.mb_per_s": "MB/s",
    "codec.encode_mpostings_per_s": "Mpostings/s",
    "codec.decode_mpostings_per_s": "Mpostings/s",
    "codec.bytes_per_posting": "B",
    "build.stage_s.fwd": "s",
    "build.stage_s.postings": "s",
    "build.stage_s.lineage": "s",
    "build.stage_s.finalize": "s",
    "build.shuffle_bytes_per_input_byte": "ratio",
    "build.spill_bytes": "B",
    "build.gc_s": "s",
    "build.jobs": "count",
    "build.tasks": "count",
    "build.files_written": "count",
    "search.warm_s": "s",
    "search.cache_mb": "MB",
    "search.plan_ms": "ms",
    "search.exec_ms": "ms",
    "search.jobs_per_query": "count",
    "search.tasks_per_query": "count",
    "search.stage_ms.score": "ms",
    "search.stage_ms.label_merge": "ms",
    "search.rows_examined_per_result": "ratio",
    "search.python_bytes_per_query": "B",
    "kernel.ms_per_query": "ms",
    "kernel.max_shard_ms": "ms",
    "kernel.blocks_decoded_ratio": "ratio",
    "ingest.docs_per_s": "docs/s",
    "ingest.batch_s": "s",
    "ingest.segments": "count",
    "segsearch.init_ms": "ms",
    "ingest.fresh_query_p50_ms": "ms",
    "compact.docs_per_s": "docs/s",
    "spark.empty_job_ms": "ms",
    "host.cpu_probe_ms": "ms",
    "trace.build_docs_per_s": "docs/s",
    "trace.query_p50_ms": "ms",
}


class Ops:
    """Checked operations: attempted, and failed (error or wrong result)."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def record(self, ok: bool):
        self.attempted += 1
        self.failed += 0 if ok else 1


def _percentile(xs: list[float], q: float) -> float:
    """Nearest-rank percentile (q in (0, 1])."""
    s = sorted(xs)
    return s[min(len(s), max(1, math.ceil(q * len(s)))) - 1]


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _data_files(path: str) -> int:
    return sum(1 for _, _, fs in os.walk(path) for f in fs if f.endswith(".parquet"))


def spark_conf(work: str, trace: bool) -> dict[str, str]:
    """Keep every file Spark and the JVM write inside the run's work dir, and
    fix the JVM heap (initial = max) so peak RSS does not depend on when the
    heap happened to grow."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata file under /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{HEAP} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + events,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def run_workload(
    name: str,
    seed: int,
    seconds: float,
    trace: bool,
    work: str,
    scale: float = 1.0,
    corrupt: int = 0,
) -> tuple[dict, dict]:
    """Returns (result, extra): ``result`` is the printed result object,
    ``extra`` the host probes, sample counts and (traced) span summary."""
    from flexneuart_spark.session import get_spark

    w = inputs.WORKLOADS[name]
    os.makedirs(work, exist_ok=True)
    os.environ["SPARK_DRIVER_MEM"] = HEAP  # read by get_spark
    ops = Ops()
    rss = probes.RssSampler()
    with rss:
        t0 = time.perf_counter()
        spark = get_spark(
            f"perfbench-{name}",
            master=f"local[{len(os.sched_getaffinity(0))}]",
            extra_conf=spark_conf(work, trace),
        )
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark.sparkContext, trace)
        try:
            m, extra = _phases(spark, tracer, rss, ops, w, seed, seconds, work, scale, corrupt)
        finally:
            spark.stop()
        m["session.start_s"] = session_s
        m["setup_s"] = session_s + m.pop("_searcher_setup_s")
        m["peak_rss_mb"] = rss.peak / 2**20
        extra["rss_mb_at_peak"] = {k: round(v / 2**20) for k, v in rss.at_peak.items()}
        if trace:
            m.update(_event_log_metrics(EventLog(os.path.join(work, "events")), tracer, extra))
            m["trace.build_docs_per_s"] = m["build_docs_per_s"]
            m["trace.query_p50_ms"] = m["query_p50_ms"]
            extra["self_s"] = tracer.self_times()
            extra["spans"] = tracer.spans
    wanted = PER_LAYER if trace else END_TO_END
    result = {
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": float(m[k]), "unit": u} for k, u in wanted.items()},
    }
    return result, extra


def _phases(spark, tracer, rss, ops, w, seed, seconds, work, scale, corrupt):
    from flexneuart_spark.index.builder import build_index
    from flexneuart_spark.search.engine import Searcher

    sc = spark.sparkContext
    m: dict[str, float] = {}
    extra: dict = {"workload": w.name, "seed": seed, "phase_s": {}}
    corrupt_left = [corrupt]
    clock = [time.perf_counter()]

    def phase_done(label: str):
        now = time.perf_counter()
        extra["phase_s"][label] = round(now - clock[0], 2)
        clock[0] = now

    def check(got: reference.Run, want: reference.Run, qids) -> bool:
        if corrupt_left[0] > 0 and any(len(v) >= 2 for v in got.values()):
            corrupt_left[0] -= 1
            got = reference.swap_two_ranks(got)
        return reference.run_matches(got, want, qids)

    # ---- inputs (untimed)
    corpus = inputs.corpus(w, seed, scale)
    queries = inputs.queries(w, seed)
    qids = [q for q, _ in queries]
    src = os.path.join(work, "corpus.parquet")
    corpus.to_parquet(src, index=False)
    warm_src = os.path.join(work, "warmup.parquet")
    corpus.head(max(50, len(corpus) // 20)).to_parquet(warm_src, index=False)
    in_bytes = os.path.getsize(src)
    n_docs = len(corpus)

    phase_done("inputs")

    # ---- untimed: the reference run, beside a warm-up on a slice
    ref: dict = {}

    def reference_job():
        t = time.perf_counter()
        try:
            ref["run"] = reference.reference_run(spark, spark.read.parquet(src), queries, K)
        except BaseException as e:  # re-raised on the main thread
            ref["error"] = e
        extra["phase_s"]["reference_alone"] = round(time.perf_counter() - t, 2)

    ref_thread = threading.Thread(target=reference_job, name="reference")
    ref_thread.start()
    # warm every timed code path (build, setup, single query, batch) on the
    # slice while the reference runs, so the timed rounds start warm
    warm_idx = os.path.join(work, "idx-warmup")
    ws = Searcher(spark, build_index(spark, spark.read.parquet(warm_src), warm_idx, num_shards=None))
    ws.warm()
    n = 0
    while n < WARMUP_QUERIES or ref_thread.is_alive():
        if n % 4 == 0:
            ws.search(queries, k=K).collect()
        ws.search([queries[n % len(queries)]], k=K).collect()
        n += 1
    extra["warmup_queries"] = n
    ref_thread.join()
    spark.catalog.clearCache()
    shutil.rmtree(warm_idx, ignore_errors=True)
    if "error" in ref:
        raise ref["error"]
    want = ref["run"]
    phase_done("warmup_and_reference")

    # ---- ROUNDS timed rounds, each: build the whole corpus, set up a
    # Searcher on it from a clear cache, then single queries in a closed
    # loop (one client) for seconds / ROUNDS with BATCHES_PER_ROUND timed
    # batches (the whole query set in one search) spread through them.
    # Every metric thus draws samples from the whole run, so a slow spell
    # on the machine hits only some of each.
    build_s, setup_s, warm_s = [], [], []
    lat, batch_s, plan, execs, jobs, tasks = [], [], [], [], [], []
    query_groups = []
    st = sc.statusTracker()

    def timed_batch():
        try:
            with tracer.span("batch"):
                t = time.perf_counter()
                rows = s.search(queries, k=K).collect()
                dt = time.perf_counter() - t
        except Exception:  # a failed operation: counted, and the run goes on
            traceback.print_exc()
            ops.record(False)
            return
        batch_s.append(dt)
        ops.record(check(reference.to_run(rows), want, qids))

    def timed_query(q):
        try:
            with tracer.span("query", qid=q[0]) as sp:
                t = time.perf_counter()
                with tracer.span("search.plan"):
                    df = s.search([q], k=K)
                tp = time.perf_counter()
                with tracer.span("search.exec"):
                    rows = df.collect()
                te = time.perf_counter()
        except Exception:
            traceback.print_exc()
            ops.record(False)
            return
        lat.append(te - t)
        ops.record(check(reference.to_run(rows), want, [q[0]]))
        if sp is not None:
            plan.append(tp - t)
            execs.append(te - tp)
            query_groups.append((sp, len(rows)))
            jids = [j for g in _child_groups(tracer, sp) for j in st.getJobIdsForGroup(g)]
            jobs.append(len(jids))
            tasks.append(_completed_tasks(st, jids))

    i = 0
    per_round = MIN_QUERIES // ROUNDS
    batch_every = max(1, per_round // BATCHES_PER_ROUND)
    for r in range(ROUNDS):
        idx = os.path.join(work, f"idx{r}")
        df = spark.read.parquet(src)
        with tag_engine_sites(sc) if tracer.enabled else nullcontext():
            with rss.measuring(), tracer.span("build_index", input_bytes=in_bytes, index=idx):
                t = time.perf_counter()
                tables = build_index(spark, df, idx, num_shards=None)
                build_s.append(time.perf_counter() - t)
        ops.record(reference.fwd_sha_ok(tables.fwd_dir, corpus))

        spark.catalog.clearCache()
        if r > 0:
            shutil.rmtree(os.path.join(work, f"idx{r - 1}"), ignore_errors=True)
        with rss.measuring(), tracer.span("searcher_setup"):
            t = time.perf_counter()
            s = Searcher(spark, tables)
            tw = time.perf_counter()
            with tracer.span("warm"):
                s.warm()
            t1 = time.perf_counter()
        setup_s.append(t1 - t)
        warm_s.append(t1 - tw)
        ops.record(s.n_docs == n_docs)

        s.search([queries[-1]], k=K).collect()  # untimed: the fresh Searcher's first query

        batches, n = 0, 0
        t_end = time.perf_counter() + seconds / ROUNDS
        with rss.measuring():
            while n < per_round or batches < BATCHES_PER_ROUND or time.perf_counter() < t_end:
                if n % batch_every == batch_every - 1 and batches < BATCHES_PER_ROUND:
                    batches += 1
                    t = time.perf_counter()
                    timed_batch()
                    t_end += time.perf_counter() - t  # the loop's length counts single queries only
                timed_query(queries[i % len(queries)])
                i += 1
                n += 1
    m["build_docs_per_s"] = n_docs / statistics.median(build_s)
    m["index_bytes_per_input_byte"] = _dir_bytes(tables.index_dir) / in_bytes
    m["build.files_written"] = _data_files(tables.index_dir)
    m["_searcher_setup_s"] = statistics.median(setup_s)
    m["search.warm_s"] = statistics.median(warm_s)
    m["search.cache_mb"] = _cache_bytes(sc) / 2**20
    lat_ms = [1e3 * x for x in lat]
    m["query_p50_ms"] = statistics.median(lat_ms)
    m["query_p90_ms"] = _percentile(lat_ms, 0.9)
    m["batch_qps"] = len(queries) / statistics.median(batch_s)
    extra["query_samples"] = len(lat_ms)

    phase_done("rounds")

    # ---- host probes
    n_tasks = min(16, sc.defaultParallelism)  # the warmed searcher's scoring-stage tasks
    m["spark.empty_job_ms"] = probes.empty_job_ms(sc, n_tasks)
    m["host.cpu_probe_ms"] = probes.cpu_probe_ms()
    extra["host"] = {k: m[k] for k in ("spark.empty_job_ms", "host.cpu_probe_ms")}

    phase_done("host")

    if tracer.enabled:
        m["search.plan_ms"] = 1e3 * statistics.median(plan)
        m["search.exec_ms"] = 1e3 * statistics.median(execs)
        m["search.jobs_per_query"] = statistics.median(jobs)
        m["search.tasks_per_query"] = statistics.median(tasks)
        extra["query_spans"] = [(sp["op"], n) for sp, n in query_groups]
        # layer probes on the workload's own data
        contents = corpus["content"].tolist()
        m["tokenize.mb_per_s"] = probes.tokenize_mb_per_s(contents)
        shards = sorted(int(d.split("=", 1)[1]) for d in os.listdir(tables.fwd_dir) if d.startswith("shard="))
        extra["shards"] = len(shards)
        m["codec.encode_mpostings_per_s"] = probes.encode_mpostings_per_s(tables.fwd_dir, shards[0])
        view = probes.IndexView(tables.index_dir)
        m["codec.bytes_per_posting"] = view.bytes_per_posting()
        m.update(probes.kernel_replay(view, queries, K))
        phase_done("layer_probes")
        _ingest_phase(spark, tracer, ops, w, seed, scale, work, tables, queries, check, m, extra)
        phase_done("ingest")
    return m, extra


def _ingest_phase(spark, tracer, ops, w, seed, scale, work, tables, queries, check, m, extra):
    """Traced runs: stream micro-batches into segments beside the base index,
    query each fresh segment set uncached, then compact everything."""
    from flexneuart_spark.search.engine import Searcher, SegmentedSearcher
    from flexneuart_spark.streaming.incremental import (
        compact_segments,
        list_segments,
        start_incremental_index,
    )

    src_dir = os.path.join(work, "stream-src")
    root = os.path.join(work, "stream")
    os.makedirs(src_dir)
    schema = spark.read.parquet(os.path.join(work, "corpus.parquet")).schema
    ingest_s, trigger_s, init_ms, fresh_ms = [], [], [], []
    streamed = 0
    ss = None
    for b in range(w.stream_batches):
        batch = inputs.stream_batch(w, seed, scale, b)
        batch.to_parquet(os.path.join(src_dir, f"batch-{b:03d}.parquet"), index=False)
        streamed += len(batch)
        with tracer.span("ingest_batch", batch=b):
            t = time.perf_counter()
            q = start_incremental_index(
                spark,
                spark.readStream.schema(schema).parquet(src_dir),
                root,
                os.path.join(work, "stream-ckpt"),
                num_shards=extra["shards"],
            )
            q.awaitTermination()
            ingest_s.append(time.perf_counter() - t)
        trigger_s += [
            p["durationMs"].get("triggerExecution", 0) / 1e3 for p in q.recentProgress if p.get("numInputRows")
        ]
        with tracer.span("segsearch_init"):
            t = time.perf_counter()
            ss = SegmentedSearcher(spark, [tables.index_dir] + list_segments(root))
            init_ms.append(1e3 * (time.perf_counter() - t))
        for i in range(FRESH_QUERIES):
            qq = queries[(b * FRESH_QUERIES + i) % len(queries)]
            with tracer.span("fresh_query"):
                t = time.perf_counter()
                ss.search([qq], k=K).collect()
                fresh_ms.append(1e3 * (time.perf_counter() - t))
    m["ingest.docs_per_s"] = streamed / sum(ingest_s)
    m["ingest.batch_s"] = statistics.median(trigger_s) if trigger_s else sum(ingest_s) / len(ingest_s)
    m["ingest.segments"] = len(list_segments(root))
    m["segsearch.init_ms"] = statistics.median(init_ms)
    m["ingest.fresh_query_p50_ms"] = statistics.median(fresh_ms)

    # union-corpus reference; final segment set and compacted index must match it
    union = spark.read.parquet(os.path.join(work, "corpus.parquet"), src_dir)
    want = reference.reference_run(spark, union, queries, K)
    qids = [q for q, _ in queries]
    ops.record(check(reference.to_run(ss.search(queries, k=K).collect()), want, qids))
    n_union = union.count()
    with tracer.span("compact_segments"):
        t = time.perf_counter()
        compacted = compact_segments(
            spark, root, os.path.join(work, "compacted"),
            segment_dirs=[tables.index_dir] + list_segments(root), num_shards=None,
        )
        m["compact.docs_per_s"] = n_union / (time.perf_counter() - t)
    rows = Searcher(spark, compacted).search(queries, k=K).collect()
    ops.record(check(reference.to_run(rows), want, qids))


def _event_log_metrics(log: EventLog, tracer: Tracer, extra: dict) -> dict[str, float]:
    """Per-layer numbers read back from Spark's event log."""
    m: dict[str, float] = {}
    # ---- builder: median over the timed builds, by engine call site
    per_build = []
    for sp in tracer.named("build_index"):
        jobs = log.jobs_in([sp["group"]])
        phase_s = {p: 0.0 for p in ("fwd", "postings", "lineage", "finalize")}
        for j in jobs:
            phase = (j["site"] or "lineage|").split("|", 1)[0]
            phase_s[phase] = phase_s.get(phase, 0.0) + j.get("end", j["start"]) - j["start"]
        stages = log.stages_of(jobs)
        per_build.append(
            {
                **{f"build.stage_s.{p}": v for p, v in phase_s.items()},
                "build.shuffle_bytes_per_input_byte": (
                    log.internal(stages, "internal.metrics.shuffle.write.bytesWritten") / sp["input_bytes"]
                ),
                "build.spill_bytes": log.internal(stages, "internal.metrics.diskBytesSpilled"),
                "build.gc_s": log.internal(stages, "internal.metrics.jvmGCTime") / 1e3,
                "build.jobs": len(jobs),
                "build.tasks": sum(st["tasks"] for st in stages),
            }
        )
    for key in per_build[0]:
        m[key] = statistics.median(b[key] for b in per_build)

    # ---- search: per traced query, its jobs' stages
    spans = {s["op"]: s for s in tracer.spans}
    score_ms, label_ms, examined, py_bytes = [], [], [], []
    for op, n_rows in extra.pop("query_spans"):
        groups = _child_groups(tracer, spans[op])
        stages = log.stages_of(log.jobs_in(groups))
        score = [st for st in stages if _is_score_stage(st)]
        other = [st for st in stages if not _is_score_stage(st)]
        score_ms.append(sum(st["ms"] for st in score))
        label_ms.append(sum(st["ms"] for st in other))
        scanned = log.sql_metric(stages, _is_scan, "number of output rows")
        examined.append(scanned / max(1, n_rows))
        py_bytes.append(log.sql_metric(stages, lambda n: True, "data sent to Python workers"))
    m["search.stage_ms.score"] = statistics.median(score_ms)
    m["search.stage_ms.label_merge"] = statistics.median(label_ms)
    m["search.rows_examined_per_result"] = statistics.median(examined)
    m["search.python_bytes_per_query"] = statistics.median(py_bytes)
    return m


def _is_score_stage(stage: dict) -> bool:
    return any("InPandas" in s or "InArrow" in s or "Python" in s for s in stage["scopes"])


def _is_scan(node_name: str) -> bool:
    return node_name.startswith("Scan") or node_name == "InMemoryTableScan"


def _child_groups(tracer: Tracer, span: dict) -> list[str]:
    """Job groups of ``span`` and every span nested under it."""
    ops = {span["op"]}
    out = [span["group"]]
    for s in sorted(tracer.spans, key=lambda s: s["op"]):
        if s["parent"] in ops:
            ops.add(s["op"])
            out.append(s["group"])
    return out


def _completed_tasks(st, job_ids) -> int:
    n = 0
    for j in job_ids:
        info = st.getJobInfo(j)
        for sid in info.stageIds if info else ():
            si = st.getStageInfo(sid)
            n += si.numCompletedTasks if si else 0
    return n


def _cache_bytes(sc) -> int:
    """Memory + disk size of every cached RDD (Spark's storage info)."""
    return sum(int(i.memSize()) + int(i.diskSize()) for i in sc._jsc.sc().getRDDStorageInfo())


def write_trace(path: str, result: dict, extra: dict) -> None:
    with open(path, "w") as f:
        json.dump({"result": result, **extra}, f, indent=1, default=str)

