"""Probes outside the engine's public search/build calls.

- Host: an empty Spark job and a fixed CPU loop, recorded in every run so a
  slow machine window can be told apart from a code change (never used to
  normalise anything).
- Memory: peak summed RSS of this process and all its descendants (the JVM
  and the Python workers), sampled from /proc.
- Layers (traced runs only): the tokenizer, the postings codec and the
  top-k kernel, run in the Spark driver process on the workload's own data.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import threading
import time
from contextlib import contextmanager

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds

import flexneuart_spark.search.scoring as scoring
from flexneuart_spark.config import BM25_B, BM25_K1
from flexneuart_spark.functions.tokenize import code_tokenize, code_tokenize_arrow
from flexneuart_spark.index.codec import decode_block, encode_postings_batch
from flexneuart_spark.search.scoring import TermPostings, maxscore_topk


def timed_median(fn, reps: int) -> float:
    """Median wall seconds of ``reps`` calls of ``fn``."""
    out = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t)
    return statistics.median(out)


# ---------------------------------------------------------------- host


def empty_job_ms(sc, n_tasks: int, reps: int = 3) -> float:
    return 1e3 * timed_median(lambda: sc.parallelize([], n_tasks).count(), reps)


def cpu_probe_ms(reps: int = 3) -> float:
    """A fixed mix of interpreter, hashing and numpy work."""
    data = np.random.default_rng(0).integers(0, 1 << 30, 200_000)
    blob = data.tobytes()

    def work():
        sum(i * i for i in range(100_000))
        hashlib.sha256(blob).digest()
        np.sort(data)

    return 1e3 * timed_median(work, reps)


# ---------------------------------------------------------------- memory


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def _tree_rss(root: int) -> dict[str, int]:
    """RSS bytes of each process in ``root``'s tree, keyed "<pid>:<comm>".

    A JVM launching a subprocess forks first: until the child execs it shows
    the whole JVM's RSS. Such not-yet-exec'd JVM children are skipped."""
    children: dict[int, list[int]] = {}
    rss: dict[int, tuple[str, int]] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                head, tail = f.read().rsplit(")", 1)
        except OSError:
            continue
        fields = tail.split()
        pid = int(name)
        children.setdefault(int(fields[1]), []).append(pid)  # ppid
        rss[pid] = (head.split("(", 1)[1], int(fields[21]) * page)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in rss:
            out[f"{pid}:{rss[pid][0]}"] = rss[pid][1]
        kids = children.get(pid, ())
        if kids and os.path.basename(_exe(pid)) == "java":
            kids = [k for k in kids if _exe(k) != _exe(pid)]
        todo.extend(kids)
    return out


class RssSampler:
    """Background thread: peak summed RSS of the process tree, counted only
    while ``active`` (the timed phases)."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self.at_peak: dict[str, int] = {}  # per-process RSS at the peak sample
        self.active = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _sample(self):
        procs = _tree_rss(os.getpid())
        total = sum(procs.values())
        if total > self.peak:
            self.peak, self.at_peak = total, procs

    def _loop(self):
        while not self._stop.wait(self.interval):
            if self.active:
                self._sample()

    @contextmanager
    def measuring(self):
        self.active = True
        try:
            yield
        finally:
            self._sample()
            self.active = False

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


# ---------------------------------------------------------------- layers


def tokenize_mb_per_s(contents: list[str], sample_bytes: int = 2_000_000, reps: int = 5) -> float:
    """``code_tokenize_arrow`` throughput on a fixed prefix of the corpus."""
    sample, size = [], 0
    for c in contents:
        sample.append(c)
        size += len(c.encode("utf-8"))
        if size >= sample_bytes:
            break
    s = pd.Series(sample)
    return size / 1e6 / timed_median(lambda: code_tokenize_arrow(s), reps)


def _read(path: str, columns=None, flt=None) -> pa.Table:
    return ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=columns, filter=flt)


def shard_postings_arrays(fwd_dir: str, shard: int):
    """One shard's posting arrays in the codec's batch-encode input layout:
    (ords, tfs, doc_lens, term_bounds), term-major, ords ascending."""
    t = _read(fwd_dir, ["ord", "doc_len", "tokens"], ds.field("shard") == shard)
    ords = t.column("ord").to_numpy()
    dls = t.column("doc_len").to_numpy()
    toks = t.column("tokens").combine_chunks()
    parent = pc.list_parent_indices(toks).to_numpy()
    terms = pc.dictionary_encode(pc.list_flatten(toks))
    # the codec sees terms in any fixed order; ids in first-seen order suffice
    tid = terms.indices.to_numpy().astype(np.int64)
    width = int(ords.max()) + 1 if len(ords) else 1
    uk, tf = np.unique(tid * width + ords[parent].astype(np.int64), return_counts=True)
    gterm, gord = uk // width, uk % width
    dl_by_ord = np.zeros(width, dtype=np.int64)
    dl_by_ord[ords] = dls
    bounds = np.append(np.flatnonzero(np.diff(gterm, prepend=-1)), len(gterm))
    return gord, tf.astype(np.int64), dl_by_ord[gord], bounds


def encode_mpostings_per_s(fwd_dir: str, shard: int, reps: int = 5) -> float:
    gord, gtf, gdl, tb = shard_postings_arrays(fwd_dir, shard)
    dt = timed_median(lambda: encode_postings_batch(gord, gtf, gdl, tb, flat=True), reps)
    return len(gord) / 1e6 / dt


class IndexView:
    """Driver-side reads of one index dir's tables."""

    def __init__(self, index_dir: str):
        self.dir = index_dir
        st = _read(f"{index_dir}/corpus_stats").to_pylist()[0]
        self.n_docs = int(st["n_docs"])
        self.avgdl = float(st["avg_doc_len"])

    def postings(self, terms: list[str]) -> list[dict]:
        return _read(f"{self.dir}/postings", flt=ds.field("term").isin(terms)).to_pylist()

    def idf(self, terms: list[str]) -> dict[str, float]:
        t = _read(f"{self.dir}/dictionary", ["term", "idf"], ds.field("term").isin(terms))
        return dict(zip(t.column("term").to_pylist(), t.column("idf").to_pylist()))

    def bytes_per_posting(self) -> float:
        t = _read(f"{self.dir}/postings", ["payload", "df_shard"])
        size = int(pc.sum(pc.binary_length(t.column("payload"))).as_py() or 0)
        postings = int(pc.sum(t.column("df_shard")).as_py() or 0)
        return size / postings if postings else 0.0


@contextmanager
def counting_decode_block():
    """Count ``decode_block`` calls made by the scoring kernels."""
    calls = [0]

    def counted(payload, off, n):
        calls[0] += 1
        return decode_block(payload, off, n)

    scoring.decode_block = counted
    try:
        yield calls
    finally:
        scoring.decode_block = decode_block


def kernel_replay(view: IndexView, queries: list[tuple[str, str]], k: int) -> dict[str, float]:
    """Replay the MaxScore kernel per shard on each query's postings, as the
    search stage runs it, and time the codec on the same blocks. Returns
    medians over queries plus exact decode counts."""
    qtf = {}
    for qid, text in queries:
        toks = code_tokenize(text)
        if toks:
            qtf[qid] = {t: toks.count(t) for t in set(toks)}
    vocab = sorted({t for d in qtf.values() for t in d})
    idf = view.idf(vocab)
    rows = view.postings(sorted(idf))
    by_shard: dict[int, dict[str, dict]] = {}
    for row in rows:
        by_shard.setdefault(row["shard"], {})[row["term"]] = row

    ms_per_query, max_shard_ms = [], []
    decoded = blocks = 0
    with counting_decode_block() as calls:
        for wts in qtf.values():
            total, worst = 0.0, 0.0
            for part in by_shard.values():
                entries = [
                    TermPostings(
                        r["payload"], r["block_off"], r["block_n"], r["block_max_doc"],
                        r["block_max_tf"], r["block_min_dl"], c * idf[t] * (BM25_K1 + 1.0),
                    )
                    for t, c in wts.items()
                    if t in idf and (r := part.get(t)) is not None
                ]
                if not entries:
                    continue
                blocks += sum(len(e.block_n) for e in entries)
                t0 = time.perf_counter()
                maxscore_topk(entries, k, view.avgdl, BM25_K1, BM25_B)
                dt = time.perf_counter() - t0
                total += dt
                worst = max(worst, dt)
            ms_per_query.append(1e3 * total)
            max_shard_ms.append(1e3 * worst)
        decoded = calls[0]

    # codec decode throughput over every block of the queries' lists
    n_post = sum(int(r["df_shard"]) for r in rows)

    def decode_all():
        for r in rows:
            for off, n in zip(r["block_off"], r["block_n"]):
                decode_block(r["payload"], int(off), int(n))

    dt = timed_median(decode_all, 3)
    return {
        "kernel.ms_per_query": statistics.median(ms_per_query) if ms_per_query else 0.0,
        "kernel.max_shard_ms": statistics.median(max_shard_ms) if max_shard_ms else 0.0,
        "kernel.blocks_decoded_ratio": decoded / blocks if blocks else 0.0,
        "codec.decode_mpostings_per_s": n_post / 1e6 / dt if dt > 0 else 0.0,
    }
