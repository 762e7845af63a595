"""Posting-list block codec: delta-gap + varint, with per-block max metadata.

Logical posting list (reference: Lucene ``DOCS_AND_FREQS`` postings,
``LuceneIndexer.java:59-67`` — docIDs + term frequencies, no positions):

    term → sorted [(doc_ordinal, tf, doc_len), ...]

``doc_len`` rides along so BM25 scoring is postings-self-contained (the
reference reads lengths from Lucene norms / the forward index at score
time — ``BM25SimilarityLucene.java:99-108``; we inline them, varint makes
the redundancy cheap).

Physical layout (one binary payload per (shard, term)):

    blocks of ``POSTING_BLOCK`` postings; per block:
    varint(delta-gapped doc ordinals) ++ varint(tfs) ++ varint(doc_lens).
    Sidecar arrays (parquet columns, NOT inside the binary):
      block_off     long[]   byte offset of each block in the payload
      block_n       int[]    postings per block
      block_max_doc long[]   max doc ordinal per block (skip pointers)
      block_max_tf  long[]   max tf per block
      block_min_dl  long[]   min doc_len per block

    (block_max_tf, block_min_dl) give a per-block score upper bound
    ``idf * (k1+1) * ub_impact(max_tf, min_dl, avgdl)`` valid for ANY
    current avgdl — impact is increasing in tf and decreasing in dl — so
    checkpoint-resumed builds that shift global avgdl never invalidate the
    pruning metadata. This is the Block-Max WAND impact data (mirrors
    Lucene 8's impact blocks; BASELINE.md "Lucene 8.6.0, Block-Max WAND
    top-k era").

All encode/decode paths are numpy-vectorized — no per-value Python loops
(loops run over byte *positions*, max 10 iterations).
"""

from __future__ import annotations

import numpy as np

from flexneuart_spark.config import BM25_B, BM25_K1, POSTING_BLOCK

_MAXB = 10  # max varint bytes for uint64


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128 varint encode a uint64 array, numpy-vectorized."""
    a = np.asarray(values, dtype=np.uint64)
    n = len(a)
    if n == 0:
        return b""
    out = np.zeros((n, _MAXB), dtype=np.uint8)
    lens = np.ones(n, dtype=np.int64)
    x = a.copy()
    for k in range(_MAXB):
        out[:, k] = (x & np.uint64(0x7F)).astype(np.uint8)
        x >>= np.uint64(7)
        more = x > 0
        if not more.any():
            break
        out[more, k] |= 0x80
        lens[more] = k + 2
    mask = np.arange(_MAXB)[None, :] < lens[:, None]
    return out[mask].tobytes()


def varint_decode(buf: bytes, offset: int = 0, count: int | None = None) -> tuple[np.ndarray, int]:
    """Decode ``count`` varints (or all remaining) starting at ``offset``.

    Returns (uint64 array, end offset)."""
    if count == 0:
        return np.empty(0, dtype=np.uint64), offset
    b = np.frombuffer(buf, dtype=np.uint8)[offset:]
    if len(b) == 0:
        return np.empty(0, dtype=np.uint64), offset
    ends = np.nonzero((b & 0x80) == 0)[0]
    if count is not None:
        ends = ends[:count]
    starts = np.empty(len(ends), dtype=np.int64)
    if len(starts):
        starts[0] = 0
        starts[1:] = ends[:-1] + 1
    nb = ends - starts + 1
    vals = np.zeros(len(ends), dtype=np.uint64)
    maxlen = int(nb.max()) if len(nb) else 0
    for j in range(maxlen):
        sel = nb > j
        vals[sel] |= (b[starts[sel] + j] & np.uint64(0x7F)).astype(np.uint64) << np.uint64(7 * j)
    end = offset + (int(ends[-1]) + 1 if len(ends) else 0)
    return vals, end


def ub_impact(max_tf: np.ndarray | float, min_dl: np.ndarray | float, avgdl: float,
              k1: float = BM25_K1, b: float = BM25_B):
    """Upper bound of the BM25 length-normalized tf term over a block:
    tf/(tf + k1*(1-b+b*dl/avgdl)) is increasing in tf, decreasing in dl."""
    max_tf = np.asarray(max_tf, dtype=np.float64)
    min_dl = np.asarray(min_dl, dtype=np.float64)
    return max_tf / (max_tf + k1 * (1.0 - b + b * min_dl / avgdl))


def encode_postings(
    doc_ords: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    block: int = POSTING_BLOCK,
) -> dict:
    """Encode one term's postings (sorted strictly ascending by doc_ord)
    into a blocked payload + sidecar metadata (module docstring)."""
    doc_ords = np.asarray(doc_ords, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    dls = np.asarray(dls, dtype=np.int64)
    n = len(doc_ords)
    assert len(tfs) == n and len(dls) == n
    if n > 1 and not (np.diff(doc_ords) > 0).all():
        raise ValueError("doc ordinals must be strictly ascending")
    payload = bytearray()
    block_off, block_n, block_max_doc, block_max_tf, block_min_dl = [], [], [], [], []
    for s in range(0, n, block):
        e = min(s + block, n)
        d = doc_ords[s:e]
        deltas = np.empty(e - s, dtype=np.uint64)
        deltas[0] = d[0]
        if e - s > 1:
            deltas[1:] = np.diff(d).astype(np.uint64)
        block_off.append(len(payload))
        payload += varint_encode(deltas)
        payload += varint_encode(tfs[s:e].astype(np.uint64))
        payload += varint_encode(dls[s:e].astype(np.uint64))
        block_n.append(e - s)
        block_max_doc.append(int(d[-1]))
        block_max_tf.append(int(tfs[s:e].max()))
        block_min_dl.append(int(dls[s:e].min()))
    return {
        "payload": bytes(payload),
        "block_off": block_off,
        "block_n": block_n,
        "block_max_doc": block_max_doc,
        "block_max_tf": block_max_tf,
        "block_min_dl": block_min_dl,
        "df": n,
    }


def _varint_lens(a: np.ndarray) -> np.ndarray:
    """Byte length of each value's varint encoding (vectorized)."""
    a = np.asarray(a, dtype=np.uint64)
    lens = np.ones(len(a), dtype=np.int64)
    for k in range(1, _MAXB):
        lens[a >= (np.uint64(1) << np.uint64(7 * k))] = k + 1
    return lens


def encode_postings_batch(
    gord: np.ndarray,
    gtf: np.ndarray,
    gdl: np.ndarray,
    term_bounds: np.ndarray,
    block: int = POSTING_BLOCK,
    flat: bool = True,
) -> dict:
    """Encode MANY terms' postings in one vectorized pass.

    Inputs are the concatenated per-term posting arrays (ords strictly
    ascending within each term) and ``term_bounds`` — the start index of
    each term's slice plus a trailing ``len(gord)`` (so term *i* owns
    ``gord[term_bounds[i]:term_bounds[i+1]]``). Semantically identical to
    calling :func:`encode_postings` per term (property-tested); one global
    varint pass replaces ~10 numpy calls per term, which dominates when
    most terms have short posting lists.

    Returns the flat layout the Arrow postings kernel builds its columns
    from zero-copy: ``payload_all`` (every term's payload, adjacent, in
    term order) with per-term byte offsets ``term_byte_bounds``; the
    per-block arrays block_off (relative to the term's payload), block_n,
    block_max_doc, block_max_tf, block_min_dl with per-term block offsets
    ``term_blk_bounds``; and per-term ``df``. Term *i*'s payload is
    ``payload_all[term_byte_bounds[i]:term_byte_bounds[i+1]]`` and its
    blocks are ``[term_blk_bounds[i], term_blk_bounds[i+1])``. ``flat``
    is accepted for existing callers that pass ``flat=True``; False is
    rejected — the flat layout is the only one.
    """
    if not flat:
        raise ValueError("encode_postings_batch returns only the flat layout")
    gord = np.asarray(gord, dtype=np.int64)
    gtf = np.asarray(gtf, dtype=np.int64)
    gdl = np.asarray(gdl, dtype=np.int64)
    tb = np.asarray(term_bounds, dtype=np.int64)
    n = len(gord)
    n_terms = len(tb) - 1
    if n == 0:
        z64 = np.empty(0, dtype=np.int64)
        return {
            "payload_all": b"",
            "term_byte_bounds": np.zeros(1, dtype=np.int64),
            "term_blk_bounds": np.zeros(1, dtype=np.int64),
            "block_off": z64,
            "block_n": np.empty(0, dtype=np.int32),
            "block_max_doc": z64,
            "block_max_tf": z64,
            "block_min_dl": z64,
            "df": z64,
        }
    if n_terms > 0 and not (np.diff(tb) > 0).all():
        # an empty term slice (df=0) would silently misalign every
        # subsequent term's block metadata/payload slices — mirror
        # encode_postings' strictly-ascending ValueError instead
        raise ValueError("term_bounds must be strictly ascending (no empty terms)")

    df = np.diff(tb)
    # position of each posting within its term
    pos_in_term = np.arange(n, dtype=np.int64) - np.repeat(tb[:-1], df)
    # global block starts
    is_blk_start = (pos_in_term % block) == 0
    blk_starts = np.flatnonzero(is_blk_start)           # global index of each block's first posting
    n_blocks_per_term = (df + block - 1) // block
    blk_ends = np.append(blk_starts[1:], n)             # exclusive end of each block
    # terms' first block index in the global block arrays
    term_blk_bounds = np.concatenate(([0], np.cumsum(n_blocks_per_term)))

    # delta-gap doc ids: first of each block absolute, rest deltas
    deltas = np.empty(n, dtype=np.uint64)
    deltas[1:] = (gord[1:] - gord[:-1]).astype(np.uint64)
    deltas[blk_starts] = gord[blk_starts].astype(np.uint64)

    # interleaved value stream per block: deltas ++ tfs ++ dls
    # build a permutation: for block b spanning [s,e): values
    # deltas[s:e], tf[s:e], dl[s:e] — realized by sorting (block_id, section, pos)
    blk_id = np.cumsum(is_blk_start) - 1                # global block id per posting
    blk_len = blk_ends - blk_starts
    # offset of each block's value stream start: 3*blk_start (each posting
    # contributes 3 values: delta, tf, dl)
    stream_start = 3 * blk_starts
    base = stream_start[blk_id] + (np.arange(n, dtype=np.int64) - blk_starts[blk_id])
    values = np.empty(3 * n, dtype=np.uint64)
    idx0 = base
    idx1 = base + blk_len[blk_id]
    idx2 = base + 2 * blk_len[blk_id]
    values[idx0] = deltas
    values[idx1] = gtf.astype(np.uint64)
    values[idx2] = gdl.astype(np.uint64)

    payload_all = varint_encode(values)
    vlens = _varint_lens(values)
    vends = np.cumsum(vlens)
    vstarts = vends - vlens

    # byte offset where each block starts in the global payload
    blk_byte_start = vstarts[stream_start]
    term_byte_start = blk_byte_start[term_blk_bounds[:-1]]

    # per-block metadata via reduceat on posting slices
    block_max_doc = gord[blk_ends - 1]
    block_max_tf = np.maximum.reduceat(gtf, blk_starts)
    block_min_dl = np.minimum.reduceat(gdl, blk_starts)

    rel_off = blk_byte_start - term_byte_start[np.repeat(np.arange(n_terms), n_blocks_per_term)]
    term_byte_bounds = np.append(term_byte_start, vends[-1])
    return {
        "payload_all": payload_all,
        "term_byte_bounds": term_byte_bounds.astype(np.int64),
        "term_blk_bounds": term_blk_bounds.astype(np.int64),
        "block_off": rel_off,
        "block_n": blk_len.astype(np.int32),
        "block_max_doc": block_max_doc,
        "block_max_tf": block_max_tf,
        "block_min_dl": block_min_dl,
        "df": df,
    }


def decode_block(payload: bytes, off: int, n: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode one block → (doc_ords int64, tfs int64, dls int64)."""
    deltas, end = varint_decode(payload, off, n)
    tfs, end = varint_decode(payload, end, n)
    dls, _ = varint_decode(payload, end, n)
    return np.cumsum(deltas.astype(np.int64)), tfs.astype(np.int64), dls.astype(np.int64)


def decode_postings(enc: dict) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode all blocks of one encoded posting list."""
    parts = ([], [], [])
    for off, n in zip(enc["block_off"], enc["block_n"]):
        d, t, l = decode_block(enc["payload"], int(off), int(n))
        parts[0].append(d)
        parts[1].append(t)
        parts[2].append(l)
    if not parts[0]:
        z = np.empty(0, dtype=np.int64)
        return z, z.copy(), z.copy()
    return tuple(np.concatenate(p) for p in parts)  # type: ignore[return-value]
