"""Operator-level tests: dedup recall on the planted near-duplicates in
the driver testdata, ANN sanity vs brute force, multimodal plumbing."""

from __future__ import annotations

import itertools

import duckdb
import pytest
from pyspark.sql import functions as F

from flexneuart_spark.operators import dedup, multimodal, similarity

SF_DIR = "/root/testdata/sf0.01"


def _planted_pairs(threshold=0.8, n=3):
    rows = duckdb.sql(f"select doc_id, text from '{SF_DIR}/documents.parquet'").fetchall()

    def sh(t):
        w = t.split()
        return {tuple(w[i : i + n]) for i in range(len(w) - n + 1)}

    S = {i: sh(t) for i, t in rows}
    out = set()
    for a, b in itertools.combinations(S, 2):
        if not S[a]:
            continue
        j = len(S[a] & S[b]) / len(S[a] | S[b])
        if j >= threshold:
            out.add((min(a, b), max(a, b)))
    return out


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_jaccard_finds_planted_pairs(spark, docs):
    want = _planted_pairs()
    got = {(r.id_a, r.id_b) for r in dedup.jaccard_near_duplicates(docs, threshold=0.8).collect()}
    assert got == want and len(got) >= 20


def test_shingle_df_cap_keeps_high_sim_pairs(spark, docs):
    # capping ultra-common shingles must not lose the planted near-dups
    got = {
        (r.id_a, r.id_b)
        for r in dedup.jaccard_near_duplicates(docs, threshold=0.8, max_shingle_df=50).collect()
    }
    assert got == _planted_pairs()


def test_minhash_lsh_recall(spark, docs):
    want = _planted_pairs()
    cand = {(r.id_a, r.id_b) for r in dedup.minhash_lsh_candidates(docs).collect()}
    # LSH candidates must cover (almost all of) the true near-dup pairs;
    # with 4 bands of 2 minhashes and jaccard≥0.9 recall should be total
    missed = want - cand
    assert len(missed) <= 1, f"missed {missed}"


def test_lsh_ann_subset_of_bruteforce_universe(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    exact = similarity.cosine_topk(emb, [0, 1], k=5)
    approx = similarity.lsh_ann_topk(emb, [0, 1], k=5, nbits=4)
    # ANN returns valid neighbours with correct cosines: every approx row's
    # cosine must equal the exact cosine for that (query, vec) pair
    ex = {(r.query_vec_id, r.vec_id): r.cos_r for r in
          similarity.cosine_topk(emb, [0, 1], k=10**6).collect()}
    for r in approx.collect():
        assert (r.query_vec_id, r.vec_id) in ex
        assert abs(ex[(r.query_vec_id, r.vec_id)] - r.cos_r) < 1e-9
    assert exact.count() == 10


def test_multimodal_decode_stub(spark, docs):
    p = multimodal.attach_payload(docs.limit(20))
    out = multimodal.decode_images(p)
    rows = out.collect()
    assert len(rows) == 20
    for r in rows:
        assert 1 <= r.width <= 64 and 1 <= r.height <= 64
        assert r.n_bytes == 16
        assert len(r.feature) == 4 and all(0.0 <= x <= 1.0 for x in r.feature)


def test_multimodal_real_decode_gated(spark, docs):
    p = multimodal.attach_payload(docs.limit(2))
    if multimodal._pil_available():
        # Pillow present: fake payloads are undecodable → NULL dims kept
        rows = multimodal.decode_images(p, real_decode=True).collect()
        assert len(rows) == 2 and all(r.width is None for r in rows)
    else:
        with pytest.raises(Exception) as ei:
            multimodal.decode_images(p, real_decode=True).collect()
        assert "NotImplementedError" in str(ei.value) or "real image decode" in str(ei.value)


def test_synth_png_structure():
    """The stdlib PNG writer emits a structurally valid file: signature,
    IHDR geometry, zlib-decompressible IDAT with per-row filter bytes."""
    import struct
    import zlib

    px = bytes(range(12))
    png = multimodal.synth_png(4, 3, px)
    assert png[:8] == b"\x89PNG\r\n\x1a\n"
    assert png[12:16] == b"IHDR"
    w, h, depth, ctype = struct.unpack(">IIBB", png[16:26])
    assert (w, h, depth, ctype) == (4, 3, 8, 0)
    idat_off = png.index(b"IDAT")
    (idat_len,) = struct.unpack(">I", png[idat_off - 4 : idat_off])
    raw = zlib.decompress(png[idat_off + 4 : idat_off + 4 + idat_len])
    assert raw == b"\x00" + px[0:4] + b"\x00" + px[4:8] + b"\x00" + px[8:12]
    with pytest.raises(ValueError):
        multimodal.synth_png(2, 2, b"\x00")


def test_multimodal_real_decode_png_e2e(spark):
    """End-to-end Pillow kernel over synthesized valid PNGs (skipped where
    Pillow is absent; the writer above is exercised regardless)."""
    pytest.importorskip("PIL")
    rows = [
        (1, multimodal.synth_png(4, 3, bytes(12))),
        (2, multimodal.synth_png(2, 5, bytes([255] * 10))),
        (3, b"not a png"),  # undecodable → NULL dims, kept
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r.doc_id: r for r in multimodal.decode_images(df, real_decode=True).collect()}
    assert (out[1].width, out[1].height) == (4, 3)
    assert (out[2].width, out[2].height) == (2, 5)
    assert out[1].n_bytes == len(rows[0][1])
    assert len(out[1].feature) == 4 and all(0.0 <= x <= 1.0 for x in out[1].feature)
    assert out[2].feature == pytest.approx([1.0] * 4)
    assert out[3].width is None and out[3].feature is None


def test_frame_sampling(spark, docs):
    p = multimodal.attach_payload(docs.limit(3))
    frames = multimodal.sample_frames(p, every_n=4)
    rows = frames.collect()
    # 16 payload bytes → frames 0,4,8,12 per doc
    assert len(rows) == 3 * 4
    assert {r.frame_idx for r in rows} == {0, 4, 8, 12}


def test_exact_duplicates_detects_injected(spark, docs):
    dup = docs.limit(5).union(docs.limit(5))
    got = dedup.exact_duplicates(dup)
    assert got.count() == 5
    assert {r.n_dups for r in got.collect()} == {2}


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def test_embedding_lsh_default_no_cartesian(spark, emb):
    # the DEFAULT embedding near-dup path must never plan a CartesianProduct
    plan = dedup.embedding_near_duplicates(emb, threshold=0.45)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the explicit exact oracle path is the all-pairs join (nested-loop /
    # cartesian depending on broadcastability) — allowed only there
    plan_exact = dedup.embedding_near_duplicates(emb, threshold=0.45, method="exact")._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" in plan_exact or "BroadcastNestedLoopJoin" in plan_exact


def test_embedding_lsh_subset_and_recall_of_exact(spark, emb):
    exact = {(r.id_a, r.id_b): r.cos for r in dedup.embedding_near_duplicates(
        emb, threshold=0.45, method="exact").collect()}
    lsh = {(r.id_a, r.id_b): r.cos for r in dedup.embedding_near_duplicates(
        emb, threshold=0.45, method="lsh", n_bands=8, band_bits=2).collect()}
    assert set(lsh) <= set(exact)
    for k, v in lsh.items():
        assert v == exact[k]
    assert len(lsh) >= 0.8 * len(exact) > 0  # banded recall at τ=0.45


def test_rp_ann_recall_vs_bruteforce(spark):
    # SRP-LSH's contract is HIGH-similarity retrieval: P(bucket match) =
    # (1 - θ/π)^nbits, so plant true near-neighbours (cos ≈ 0.995) and
    # check the rank-1 neighbour survives bucketing for nearly all queries
    import numpy as np

    rng = np.random.default_rng(7)
    rows = []
    for i in range(40):
        base = rng.standard_normal(32)
        rows.append((i * 2, [float(x) for x in base]))
        noisy = base + 0.05 * rng.standard_normal(32)
        rows.append((i * 2 + 1, [float(x) for x in noisy]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qids = [0, 2, 4, 6, 8, 10, 12, 14, 16, 18]
    brute1 = {(r.query_vec_id, r.vec_id) for r in
              similarity.cosine_topk(df, qids, k=1).collect()}
    approx = {(r.query_vec_id, r.vec_id) for r in
              similarity.rp_ann_topk(df, qids, k=5, nbits=8, seed=13).collect()}
    # each query's planted twin is its rank-1 brute-force neighbour
    assert brute1 == {(q, q + 1) for q in qids}
    assert len(brute1 & approx) >= 8  # ≥80% rank-1 recall at nbits=8


def test_ivf_string_ids_and_nprobe_recall(spark, emb):
    # string ids must work (r1 defect: centroid pick compared id < n_cells)
    semb = emb.select(F.concat(F.lit("v"), F.col("vec_id").cast("string")).alias("vec_id"), "embedding")
    qids = ["v0", "v1", "v2", "v3", "v4"]
    got = similarity.ivf_topk(semb, qids, k=5, n_cells=8, nprobe=2).collect()
    assert {r.query_vec_id for r in got} == set(qids)
    assert all(r.vec_id.startswith("v") for r in got)
    # higher nprobe must not lose neighbours found at lower nprobe
    got1 = {(r.query_vec_id, r.vec_id, r.rank) for r in
            similarity.ivf_topk(emb, [0, 1, 2, 3, 4], k=5, n_cells=8, nprobe=1).collect()}
    got2 = {(r.query_vec_id, r.vec_id) for r in
            similarity.ivf_topk(emb, [0, 1, 2, 3, 4], k=5, n_cells=8, nprobe=2).collect()}
    brute = {(r.query_vec_id, r.vec_id) for r in similarity.cosine_topk(emb, [0, 1, 2, 3, 4], k=5).collect()}
    # nprobe=2 recall ≥ nprobe=1 recall against brute force
    r1 = len({(q, v) for q, v, _ in got1} & brute)
    r2 = len(got2 & brute)
    assert r2 >= r1


def test_dropped_head_shingles_audit(spark, docs):
    # with a tiny cap the audit reports the head shingles the guard removes
    dropped = dedup.dropped_head_shingles(docs, max_shingle_df=5).collect()
    assert all(r.sdf > 5 for r in dropped)
    assert len(dropped) > 0


def test_connected_components_chain_and_cliques(spark):
    # chain 1-2-3-4-5 needs multi-round propagation; 10-11 separate; 20 isolated pair
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (20, 21)], ["id_a", "id_b"]
    )
    got = {r.id: r.component for r in dedup.connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_connected_components_long_chain_logarithmic(spark):
    """Large-star/small-star converges in O(log n) rounds, independent of
    diameter: a planted 1,000-link chain (diameter 1000) must resolve in
    <15 rounds — min-label propagation would need ~1000."""
    pairs = spark.createDataFrame(
        [(f"n{i:04d}", f"n{i + 1:04d}") for i in range(1000)], ["id_a", "id_b"]
    )
    got = {r.id: r.component for r in dedup.connected_components(pairs, max_iter=14).collect()}
    assert len(got) == 1001
    assert set(got.values()) == {"n0000"}


def test_connected_components_nonconvergence_raises(spark):
    pairs = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], ["id_a", "id_b"])
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(pairs, max_iter=1)


def test_multiprobe_recall_dominates_single_probe(spark, emb):
    qids = [0, 1, 2, 3, 4]
    brute = {(r.query_vec_id, r.vec_id) for r in similarity.cosine_topk(emb, qids, k=5).collect()}
    single = {(r.query_vec_id, r.vec_id) for r in
              similarity.lsh_ann_topk(emb, qids, k=5, nbits=8).collect()}
    multi = {(r.query_vec_id, r.vec_id) for r in
             similarity.lsh_ann_topk(emb, qids, k=5, nbits=8, multi_probe=True).collect()}
    # multi-probe candidates are a superset of single-probe's buckets, so
    # recall vs brute force can only improve
    assert len(multi & brute) >= len(single & brute)


def test_simhash_pairs_exact_vs_bruteforce(spark, docs):
    # pigeonhole block candidates guarantee EXACT recall within the radius
    import itertools as it

    sub = docs.limit(120)
    sigs = {r.doc_id: r.simhash for r in dedup.simhash(sub, bits=16).collect()}
    want = set()
    for a, b in it.combinations(sorted(sigs), 2):
        h = sum(x != y for x, y in zip(sigs[a], sigs[b]))
        if h <= 2:
            want.add((a, b, h))
    got = {(r.id_a, r.id_b, r.hamming)
           for r in dedup.simhash_near_duplicates(sub, bits=16, max_hamming=2).collect()}
    assert got == want and len(want) > 0
    with pytest.raises(ValueError):
        dedup.simhash_near_duplicates(sub, bits=16, max_hamming=3, n_blocks=2)


def test_apply_dedup_keeps_canonicals(spark):
    docs = spark.createDataFrame([(i, f"text {i}") for i in range(10)], ["doc_id", "text"])
    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], ["id_a", "id_b"])
    kept = {r.doc_id for r in dedup.apply_dedup(docs, pairs).collect()}
    # groups {1,2,3}→keep 1; {7,8}→keep 7; everything unpaired survives
    assert kept == {0, 1, 4, 5, 6, 7, 9}


def test_ivf_train_recovers_clusters(spark):
    import numpy as np

    rng = np.random.default_rng(3)
    rows = []
    base_a = np.array([5.0, 0.0, 0.0, 0.0])
    base_b = np.array([0.0, 5.0, 0.0, 0.0])
    for i in range(20):
        rows.append((i, [float(x) for x in base_a + 0.1 * rng.standard_normal(4)]))
        rows.append((100 + i, [float(x) for x in base_b + 0.1 * rng.standard_normal(4)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = similarity.ivf_train(df, n_cells=2, n_iter=3).collect()
    assert len(cents) == 2
    dirs = sorted(
        (np.argmax(np.abs(np.asarray(c.cv))) for c in cents)
    )
    assert dirs == [0, 1]  # one centroid per planted cluster axis
    # assignment with trained centroids partitions the two clusters exactly
    assign = similarity.ivf_assign(df, centroids=similarity.ivf_train(df, n_cells=2, n_iter=3))
    groups = {}
    for r in assign.collect():
        groups.setdefault(r.cell, set()).add(r.id if hasattr(r, "id") else r.vec_id)
    sizes = sorted(len(v) for v in groups.values())
    assert sizes == [20, 20]


# --- max_bucket_size skew guards (round-3) ----------------------------------

def _hot_corpus(spark, n_hot=2500, planted=2):
    """A skewed corpus: `n_hot` docs with the SAME text (one hot LSH bucket,
    above the 2000 default cap) plus a planted near-dup pair of distinct
    texts that must still be found."""
    rows = [(i, "boiler plate code block repeated forever " * 3) for i in range(n_hot)]
    rows.append((9001, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
    rows.append((9002, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_bucket_cap_bounds_hot_bucket(spark):
    docs = _hot_corpus(spark)
    cand = dedup.minhash_lsh_candidates(docs, max_bucket_size=2000).collect()
    got = {(r.id_a, r.id_b) for r in cand}
    # the 2500-doc hot bucket (C(2500,2) ≈ 3.1M pairs) is dropped entirely;
    # the planted near-dup pair survives in its own small bucket
    assert (9001, 9002) in got
    assert all(a >= 9000 for a, _ in got), f"hot-bucket pairs leaked: {sorted(got)[:5]}"
    # audit reports the dropped bucket(s)
    buckets = dedup.minhash_band_buckets(docs)
    over = dedup.oversized_buckets(buckets, ["band_idx", "band_key"]).filter(
        F.col("bucket_size") > 2000).collect()
    assert len(over) >= 1 and all(r.bucket_size == 2500 for r in over)


def test_simhash_bucket_cap_bounds_hot_bucket(spark):
    docs = _hot_corpus(spark)
    pairs = dedup.simhash_near_duplicates(docs, bits=16, max_hamming=1, max_bucket_size=2000)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert all(a >= 9000 for a, _ in got), f"hot-bucket pairs leaked: {sorted(got)[:5]}"
    buckets = dedup.simhash_block_buckets(docs, bits=16, max_hamming=1)
    over = dedup.oversized_buckets(buckets, ["block_idx", "block_val"]).filter(
        F.col("bucket_size") > 2000).collect()
    assert len(over) >= 1


def test_embedding_bucket_cap_bounds_hot_bucket(spark):
    # 2500 identical vectors → every band bucket holds all of them; with
    # the cap, candidate generation yields NO pairs among the hot family
    # but keeps the distinct planted near-dup pair
    rows = [(i, [1.0, 1.0, 0.5, 0.5, 1.0, 1.0, 0.5, 0.5]) for i in range(2500)]
    rows.append((9001, [-1.0, -1.0, -0.5, -0.5, -1.0, -1.0, -0.5, -0.5]))
    rows.append((9002, [-1.0, -1.0, -0.5, -0.6, -1.0, -1.0, -0.5, -0.5]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cand = dedup.embedding_lsh_candidates(emb, n_bands=4, band_bits=2, max_bucket_size=2000)
    got = {(r.id_a, r.id_b) for r in cand.collect()}
    assert got == {(9001, 9002)}
    buckets = dedup.embedding_band_buckets(emb, n_bands=4, band_bits=2)
    over = dedup.oversized_buckets(buckets, ["band_idx", "band_key"]).filter(
        F.col("bucket_size") > 2000).collect()
    assert len(over) >= 1 and all(r.bucket_size == 2500 for r in over)


def test_jaccard_score_unbiased_by_shingle_cap(spark):
    # two docs share a HEAD shingle family (capped out of candidate gen)
    # plus enough rare shingles to remain candidates; the reported jaccard
    # must equal the FULL-set jaccard, not the capped-set one
    import itertools as it

    common = "x y z " * 4                       # shingles shared by many docs
    rare = "unique alpha beta gamma delta one two"
    rows = [(i, common + f"filler{i} pad{i} tail{i}") for i in range(20)]
    rows.append((100, common + rare))
    rows.append((101, common + rare + " extra"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def shset(t, n=3):
        w = t.split()
        return {tuple(w[i:i + n]) for i in range(len(w) - n + 1)}

    texts = dict(rows)
    want = {}
    for a, b in it.combinations(sorted(texts), 2):
        sa, sb = shset(texts[a]), shset(texts[b])
        j = len(sa & sb) / len(sa | sb)
        if j >= 0.5:
            want[(a, b)] = round(j, 6)
    got = {(r.id_a, r.id_b): r.jaccard
           for r in dedup.jaccard_near_duplicates(docs, threshold=0.5, max_shingle_df=10).collect()}
    assert (100, 101) in got
    for pair, j in got.items():
        assert abs(j - want[pair]) < 1e-6, (pair, j, want[pair])


def test_pq_encode_codes_shape(spark, emb):
    cb = similarity.pq_train(emb, m=4, n_codes=16, n_iter=1)
    valid = {(r.sub, r.code) for r in cb.collect()}
    assert len(valid) <= 4 * 16
    codes = similarity.pq_encode(emb, cb, m=4).collect()
    n = emb.count()
    assert len(codes) == 4 * n  # m code labels per vector
    assert all((r.sub, r.code) in valid for r in codes)


def test_pq_dim_divisibility_check(spark, emb):
    with pytest.raises(ValueError, match="not divisible"):
        similarity.pq_train(emb, m=5)


def test_pq_planted_near_dup_recall(spark):
    # PQ's contract: STRONG neighbours survive quantization — a planted
    # twin (cos ≈ 0.995) lands in the same/nearby codewords, so ADC puts
    # it in the top-5 for nearly all queries
    import numpy as np

    rng = np.random.default_rng(11)
    rows = []
    for i in range(40):
        base = rng.standard_normal(32)
        rows.append((i * 2, [float(x) for x in base]))
        noisy = base + 0.05 * rng.standard_normal(32)
        rows.append((i * 2 + 1, [float(x) for x in noisy]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qids = [0, 2, 4, 6, 8, 10, 12, 14, 16, 18]
    brute1 = {(r.query_vec_id, r.vec_id) for r in
              similarity.cosine_topk(df, qids, k=1).collect()}
    assert brute1 == {(q, q + 1) for q in qids}
    approx = {(r.query_vec_id, r.vec_id) for r in
              similarity.pq_topk(df, qids, k=5, m=8, n_codes=16, n_iter=2).collect()}
    hit = sum(1 for q in qids if (q, q + 1) in approx)
    assert hit >= 8, f"planted-twin recall {hit}/10"


def test_connected_components_matches_union_find(spark):
    """Property test: large-star/small-star output equals a classic
    union-find on random edge lists (ids as zero-padded strings so the
    lexicographic component min matches the numeric one)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    edge = st.tuples(st.integers(0, 30), st.integers(0, 30))

    @given(st.lists(edge, min_size=1, max_size=40))
    @settings(max_examples=12, deadline=None)
    def check(edges):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        def union(a, b):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)

        ids = set()
        clean = [(a, b) for a, b in edges if a != b]
        if not clean:
            return
        for a, b in clean:
            union(a, b)
            ids.update((a, b))
        # root-compress, then express as min-reachable id
        want = {f"n{x:02d}": f"n{find(x):02d}" for x in ids}
        pairs = spark.createDataFrame(
            [(f"n{a:02d}", f"n{b:02d}") for a, b in clean], ["id_a", "id_b"]
        )
        got = {r.id: r.component for r in dedup.connected_components(pairs).collect()}
        assert got == want

    check()


def test_pq_train_keeps_dead_codewords(spark):
    """A codeword with zero assignments keeps its previous value (left
    join + coalesce), so the codebook never shrinks below m*n_codes.
    Duplicate vectors force a dead code: both duplicates are seeds, but
    assignment ties break by code asc so the larger code wins nothing."""
    vecs = [
        (0, [0.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 0.0, 0.0, 0.0]),  # exact duplicate of 0
        (2, [1.0, 2.0, 3.0, 4.0]),
        (3, [4.0, 3.0, 2.0, 1.0]),
    ]
    emb4 = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    cb = similarity.pq_train(emb4, m=2, n_codes=4, n_iter=2)
    rows = cb.collect()
    # all 4 seeds survive in both subspaces despite the duplicate pair
    assert len(rows) == 2 * 4
    assert all(r.cw is not None and len(r.cw) == 2 for r in rows)
    per_sub = {}
    for r in rows:
        per_sub.setdefault(r.sub, set()).add(r.code)
    assert all(codes == {0, 1, 2, 3} for codes in per_sub.values())


def test_ivfpq_planted_near_dup_recall(spark):
    """IVFADC's contract: strong neighbours land in the same coarse cell
    AND survive residual quantization — a planted twin (cos ≈ 0.995)
    stays in the top-5 for nearly all queries at nprobe=2."""
    import numpy as np

    rng = np.random.default_rng(11)
    rows = []
    for i in range(40):
        base = rng.standard_normal(32)
        rows.append((i * 2, [float(x) for x in base]))
        noisy = base + 0.05 * rng.standard_normal(32)
        rows.append((i * 2 + 1, [float(x) for x in noisy]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qids = [0, 2, 4, 6, 8, 10, 12, 14, 16, 18]
    approx = {(r.query_vec_id, r.vec_id) for r in
              similarity.ivfpq_topk(df, qids, k=5, n_cells=4, nprobe=2,
                                    m=8, n_codes=16, n_iter=2).collect()}
    hit = sum(1 for q in qids if (q, q + 1) in approx)
    assert hit >= 8, f"planted-twin recall {hit}/10"


def test_ivfpq_residuals_reconstruct(spark, emb):
    """cell centroid + residual must reconstruct the original vector
    exactly (the subtraction is plain IEEE, no rounding)."""
    cents = similarity.ivf_centroids(emb, n_cells=4)
    cmap = {r.cell: r.cv for r in cents.collect()}
    got = similarity.ivfpq_residuals(emb, cents).collect()
    orig = {r.vec_id: [float(x) for x in r.embedding] for r in emb.collect()}
    assert len(got) == len(orig)
    for r in got:
        rebuilt = [c + rv for c, rv in zip(cmap[r.cell], r.rv)]
        assert rebuilt == pytest.approx(orig[r.vec_id], abs=1e-9)


def test_ivfpq_candidates_subset_of_probed_cells(spark, emb):
    """Every returned neighbour must live in one of the query's nprobe
    probed cells — the IVF pruning invariant."""
    cents = similarity.ivf_centroids(emb, n_cells=4)
    assign = {r.vec_id: r.cell for r in
              similarity.ivf_assign(emb, centroids=cents, nprobe=1).collect()}
    probes = {}
    qids = [0, 1, 2, 3, 4]
    probe_rows = similarity.ivf_assign(
        emb.filter(F.col("vec_id").isin(qids)), centroids=cents, nprobe=2).collect()
    for r in probe_rows:
        probes.setdefault(r.vec_id, set()).add(r.cell)
    out = similarity.ivfpq_topk(emb, qids, k=5, n_cells=4, nprobe=2).collect()
    assert len(out) == 25
    for r in out:
        assert assign[r.vec_id] in probes[r.query_vec_id]


def test_ivfpq_build_search_matches_inline(spark, emb, tmp_path):
    """Persisted index (build once / query many) returns exactly the
    inline ivfpq_topk results; the codes table is partitioned by cell so
    probing prunes partitions instead of scanning the corpus."""
    import os

    path = str(tmp_path / "ivfpq_idx")
    meta = similarity.ivfpq_build(emb, path, n_cells=4, m=4, n_codes=16, n_iter=1)
    assert meta["m"] == 4
    # cell=... partition directories on disk
    assert any(d.startswith("cell=") for d in os.listdir(f"{path}/codes"))
    qids = [0, 1, 2, 3, 4]
    queries = emb.filter(F.col("vec_id").isin(qids))
    got = (
        similarity.ivfpq_search(spark, path, queries, k=6, nprobe=2)
        .filter(F.col("query_vec_id") != F.col("vec_id"))
        .collect()
    )
    want = {(r.query_vec_id, r.vec_id): r.cos_r
            for r in similarity.ivfpq_topk(emb, qids, k=5, n_cells=4, nprobe=2).collect()}
    got_top5 = {}
    for r in sorted(got, key=lambda r: (r.query_vec_id, r.rank)):
        if sum(1 for k2 in got_top5 if k2[0] == r.query_vec_id) < 5:
            got_top5[(r.query_vec_id, r.vec_id)] = r.cos_r
    assert got_top5 == want


def test_ivf_plans_never_join_corpus_by_id(spark, emb):
    """The nearest cell is a column of one narrow map over the corpus, so
    no IVF plan joins the corpus back to its own assignment by id (at
    corpus scale that join is corpus-sized on both sides)."""
    import re

    cents = similarity.ivf_centroids(emb, n_cells=4)
    plans = {
        "ivf_topk": similarity.ivf_topk(emb, [0, 1, 2], k=5, n_cells=8, nprobe=2),
        "ivfpq_residuals": similarity.ivfpq_residuals(emb, cents),
        "ivfpq_topk": similarity.ivfpq_topk(emb, [0, 1, 2], k=5, n_cells=4, nprobe=2),
    }
    for name, df in plans.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Join" in plan, name
        for left, right in re.findall(r"Join \[([^\]]*)\], \[([^\]]*)\]", plan):
            keys = [k.strip().split("#")[0] for k in (left + "," + right).split(",")]
            assert "vec_id" not in keys, f"{name} joins on the id column: {left} = {right}"


def test_ann_encodes_run_their_udf_once(spark, emb):
    """A scalar UDF whose output is a join key (the PQ code, the SRP
    bucket) runs once per encode: Spark's inferred isnotnull filter on
    that key must not push below the projection and evaluate the UDF a
    second time. Counted in the final (post-AQE) plan only; rp_ann_topk
    signs the corpus and, separately, its query rows."""
    cases = {
        "pq_topk": (similarity.pq_topk(emb, [0, 1, 2], k=5), "_assign", 1),
        "ivfpq_topk": (similarity.ivfpq_topk(emb, [0, 1, 2], k=5), "_assign", 1),
        "rp_ann_topk": (similarity.rp_ann_topk(emb, [0, 1, 2], k=5), "_sig", 2),
    }
    for name, (df, udf, want) in cases.items():
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        assert final.count(f"ArrowEvalPython [{udf}") == want, (name, final)


def test_ann_udf_path_empty_input_is_lazy_empty(spark):
    """An empty embeddings frame (the fuzz class the index builder was
    hardened against) must yield empty results on the Arrow/BLAS
    assignment path, not crash at plan-build time stacking a 0-row
    centroid/codebook matrix."""
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert similarity.ivf_train(empty, n_cells=4, n_iter=2).count() == 0
    assert similarity.ivf_assign(empty, n_cells=4).count() == 0
    cb = similarity.pq_train(empty, m=2, n_codes=4, n_iter=2)
    assert cb.count() == 0
    assert similarity.pq_encode(empty, cb, m=2).count() == 0
    assert similarity.ivf_topk(empty, [0], k=5, n_cells=4, nprobe=2).count() == 0
    assert similarity.pq_topk(empty, [0], k=5, m=2, n_codes=4).count() == 0
    assert similarity.ivfpq_topk(empty, [0], k=5, n_cells=4, nprobe=2, m=2, n_codes=4).count() == 0
    # ...but an EMPTY MODEL over real data is an upstream bug (wrong or
    # empty index path) and must fail loudly, not silently encode nothing
    one = spark.createDataFrame([(0, [0.1, 0.2])], "vec_id long, embedding array<double>")
    empty_cb = spark.createDataFrame([], "sub int, code long, cw array<double>")
    with pytest.raises(ValueError, match="empty codebooks"):
        similarity.pq_encode(one, empty_cb, m=2)
    empty_cents = spark.createDataFrame([], "cell long, cv array<double>, cn double")
    with pytest.raises(ValueError, match="empty centroids"):
        similarity.ivf_assign(one, centroids=empty_cents)
    # the nearest-cell map keeps the same rules for every IVF caller
    assert similarity.ivfpq_residuals(empty, empty_cents).count() == 0
    with pytest.raises(ValueError, match="empty centroids"):
        similarity.ivf_topk(one, [0], centroids=empty_cents)
    with pytest.raises(ValueError, match="empty centroids"):
        similarity.ivfpq_topk(one, [0], m=2, n_codes=4, centroids=empty_cents)


def test_ivfpq_search_external_queries(spark, emb, tmp_path):
    """Queries that are NOT corpus rows (the serving shape): results keep
    self-matches out naturally (no matching vec_id) and every neighbour
    comes from the probed cells."""
    path = str(tmp_path / "ivfpq_ext")
    similarity.ivfpq_build(emb, path, n_cells=4, m=4, n_codes=16, n_iter=1)
    # synthesize external queries = perturbed copies of corpus vectors
    src = {r.vec_id: [float(x) for x in r.embedding]
           for r in emb.filter(F.col("vec_id").isin([0, 1, 2])).collect()}
    ext = [(1000 + vid, [x + 0.01 for x in v]) for vid, v in src.items()]
    queries = spark.createDataFrame(ext, "vec_id long, embedding array<double>")
    got = similarity.ivfpq_search(spark, path, queries, k=3, nprobe=2).collect()
    assert {r.query_vec_id for r in got} == {1000, 1001, 1002}
    per_q = {}
    for r in got:
        per_q.setdefault(r.query_vec_id, []).append(r)
    for qid, rows in per_q.items():
        assert len(rows) == 3
        assert sorted(r.rank for r in rows) == [1, 2, 3]
        # a tiny perturbation of vector v keeps v itself in the top-3
        assert (qid - 1000) in {r.vec_id for r in rows}
