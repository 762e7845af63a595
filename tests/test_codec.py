"""Posting codec round-trips (pattern of reference
java/.../utils/CompressUtilsTest.java) + block-max metadata validity."""

from __future__ import annotations

import numpy as np
import pytest

from flexneuart_spark.index.codec import (
    decode_block,
    decode_postings,
    encode_postings,
    ub_impact,
    varint_decode,
    varint_encode,
)


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_varint_roundtrip(seed):
    rng = np.random.default_rng(seed)
    vals = np.concatenate(
        [
            rng.integers(0, 128, 100),
            rng.integers(0, 1 << 14, 100),
            rng.integers(0, 1 << 40, 100),
            np.array([0, 1, 127, 128, 16383, 16384, (1 << 63) - 1]),
        ]
    ).astype(np.uint64)
    buf = varint_encode(vals)
    out, end = varint_decode(buf, 0, len(vals))
    assert end == len(buf)
    assert (out == vals).all()


def test_varint_empty():
    assert varint_encode(np.array([], dtype=np.uint64)) == b""
    out, end = varint_decode(b"", 0, None)
    assert len(out) == 0 and end == 0


@pytest.mark.parametrize("n", [1, 5, 128, 129, 1000])
def test_postings_roundtrip(n):
    rng = np.random.default_rng(n)
    ords = np.sort(rng.choice(np.arange(n * 7), size=n, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 50, n).astype(np.int64)
    dls = rng.integers(1, 2000, n).astype(np.int64)
    enc = encode_postings(ords, tfs, dls)
    d, t, l = decode_postings(enc)
    assert (d == ords).all() and (t == tfs).all() and (l == dls).all()
    assert enc["df"] == n
    # per-block decode agrees
    d0, t0, l0 = decode_block(enc["payload"], enc["block_off"][0], enc["block_n"][0])
    m = enc["block_n"][0]
    assert (d0 == ords[:m]).all() and (t0 == tfs[:m]).all() and (l0 == dls[:m]).all()


def test_block_metadata_bounds():
    rng = np.random.default_rng(7)
    n = 500
    ords = np.arange(n, dtype=np.int64) * 3
    tfs = rng.integers(1, 30, n).astype(np.int64)
    dls = rng.integers(1, 500, n).astype(np.int64)
    enc = encode_postings(ords, tfs, dls)
    # block_max_doc are the skip pointers: strictly ascending, last == max ord
    bmax = np.array(enc["block_max_doc"])
    assert (np.diff(bmax) > 0).all() and bmax[-1] == ords[-1]
    # ub_impact upper-bounds the true impact for any avgdl
    for avgdl in (1.0, 50.0, 3000.0):
        true_imp = tfs / (tfs + 1.2 * (1 - 0.75 + 0.75 * dls / avgdl))
        s = 0
        for i, m in enumerate(enc["block_n"]):
            blk = slice(s, s + m)
            ub = ub_impact(enc["block_max_tf"][i], enc["block_min_dl"][i], avgdl)
            assert true_imp[blk].max() <= ub + 1e-12
            s += m


def test_strictly_ascending_required():
    with pytest.raises(ValueError):
        encode_postings(np.array([3, 3]), np.array([1, 1]), np.array([1, 1]))


def _term(batch: dict, i: int) -> dict:
    """Term ``i``'s slice of encode_postings_batch's flat output, in
    encode_postings' per-term shape."""
    b0, b1 = batch["term_blk_bounds"][i], batch["term_blk_bounds"][i + 1]
    p0, p1 = batch["term_byte_bounds"][i], batch["term_byte_bounds"][i + 1]
    out = {k: list(batch[k][b0:b1]) for k in ("block_off", "block_n", "block_max_doc", "block_max_tf", "block_min_dl")}
    out["payload"] = batch["payload_all"][p0:p1]
    out["df"] = int(batch["df"][i])
    return out


def test_batch_encoder_equals_per_term():
    """encode_postings_batch over many terms == encode_postings per term
    (randomized: varied list lengths incl. >1 block, big ords/tfs/dls)."""
    from flexneuart_spark.index.codec import encode_postings_batch

    rng = np.random.default_rng(11)
    gord, gtf, gdl, bounds = [], [], [], [0]
    for df in [1, 2, 127, 128, 129, 300, 5, 1000, 64]:
        o = np.sort(rng.choice(10_000_000, size=df, replace=False)).astype(np.int64)
        gord.append(o)
        gtf.append(rng.integers(1, 100_000, df).astype(np.int64))
        gdl.append(rng.integers(1, 1_000_000, df).astype(np.int64))
        bounds.append(bounds[-1] + df)
    cat = lambda xs: np.concatenate(xs)
    batch = encode_postings_batch(cat(gord), cat(gtf), cat(gdl), np.array(bounds))
    assert len(batch["term_blk_bounds"]) == len(batch["term_byte_bounds"]) == len(gord) + 1
    assert batch["term_byte_bounds"][-1] == len(batch["payload_all"])
    for i in range(len(gord)):
        assert _term(batch, i) == encode_postings(gord[i], gtf[i], gdl[i]), i


def test_batch_encoder_empty():
    from flexneuart_spark.index.codec import encode_postings_batch

    z = np.empty(0, dtype=np.int64)
    out = encode_postings_batch(z, z, z, np.array([0]))
    assert out["payload_all"] == b""
    assert list(out["term_byte_bounds"]) == list(out["term_blk_bounds"]) == [0]
    assert len(out["df"]) == len(out["block_n"]) == 0


# ---------------------------------------------------------------------------
# Property-based tests (hypothesis) — beyond the reference's test strategy
# (SURVEY.md §5: the reference has no property-based testing; the codec is
# the one component where random structure finds corner cases fastest).
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**62), min_size=0, max_size=300))
def test_varint_roundtrip_property(values):
    a = np.asarray(values, dtype=np.uint64)
    buf = varint_encode(a)
    out, end = varint_decode(buf, 0, len(a))
    assert end == len(buf)
    assert (out == a).all()


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10**9),  # ord gap basis
            st.integers(min_value=1, max_value=10**6),  # tf
            st.integers(min_value=0, max_value=10**6),  # dl
        ),
        min_size=1,
        max_size=400,
    )
)
def test_postings_roundtrip_property(rows):
    # build strictly ascending ords from arbitrary gaps
    gaps = np.array([r[0] for r in rows], dtype=np.int64)
    ords = np.cumsum(gaps + 1) - 1
    tfs = np.array([r[1] for r in rows], dtype=np.int64)
    dls = np.array([r[2] for r in rows], dtype=np.int64)
    enc = encode_postings(ords, tfs, dls)
    d, t, l = decode_postings(enc)
    assert (d == ords).all() and (t == tfs).all() and (l == dls).all()
    # batch encoder agrees bit-for-bit when this is the only term
    from flexneuart_spark.index.codec import encode_postings_batch

    batch = encode_postings_batch(ords, tfs, dls, np.array([0, len(ords)]))
    assert _term(batch, 0) == enc


def test_batch_encoder_rejects_empty_term_slice():
    # an empty term slice (df=0) would misalign all later terms' blocks
    import numpy as np
    import pytest as _pytest

    from flexneuart_spark.index.codec import encode_postings_batch

    with _pytest.raises(ValueError, match="strictly ascending"):
        encode_postings_batch(
            np.array([0, 2, 5]), np.array([1, 1, 1]), np.array([4, 4, 4]),
            term_bounds=[0, 2, 2, 3],  # middle term is empty
        )
