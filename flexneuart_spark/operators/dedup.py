"""Deduplication operators for large-scale training-data pipelines.

The reference's closest machinery is set-overlap checking
(``flexneuart/check_utils/utils.py:31-38`` token-Jaccard;
``check_query_overlap.py`` / ``check_split_leak.py`` split-leak joins);
these operators generalize it to corpus-scale dedup.

Scale notes (100 TB posture):
- exact dedup is a hash groupBy — one shuffle on a 16-byte key;
- ALL candidate generators share the one-shuffle bucket-grouped pair
  expansion (``_ordered_pairs``): group by the bucket key (shingle /
  minhash band / sign-LSH band / SimHash block), expand ordered pairs
  JVM-side — no self-joins, the bucket table is shuffled once;
- EVERY bucket key is size-capped by default: n-gram Jaccard's
  ``max_shingle_df`` (1000) plus ``max_bucket_size`` (2000) on the
  MinHash-band / SimHash-block / sign-LSH-band generators. A hot bucket
  (the all-'0' band of short docs, a boilerplate block) would otherwise
  materialize its whole id array in ONE row and expand O(n²) structs in
  one task — the caps bound the worst task at C(cap,2) pairs regardless
  of corpus skew. ``dropped_head_shingles`` / ``oversized_buckets``
  audit what each cap removed; pass ``None`` to opt out (unsafe at
  scale);
- MinHash+LSH / banded sign-LSH: candidate volume is O(bucket
  collisions), independent of corpus size;
- SimHash pigeonhole blocks give EXACT recall within the Hamming radius;
- pair → group resolution (``connected_components``) is iterative
  min-label propagation, checkpointed per round, diameter-bounded;
  ``apply_dedup`` then anti-joins the corpus against the small
  non-canonical set.

All hash functions are md5-based so every operator has an exact DuckDB
oracle (portable lexicographic min over hex strings instead of seeded
integer hashing — determinism beats speed here; swap in xxhash64 for
production speed, semantics are identical).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flexneuart_spark.functions.tokenize import whitespace_tokens_col


def _ordered_pairs(ids):
    """All (id_a < id_b) pair structs from a SORTED id array — JVM-side
    nested transform, the in-map half of the one-shuffle candidate
    pattern shared by the Jaccard / MinHash / embedding-LSH generators."""
    return F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.size(ids) - 1),
            lambda i: F.transform(
                F.slice(ids, i + 1, F.size(ids)),
                lambda y: F.struct(F.element_at(ids, i).alias("id_a"), y.alias("id_b")),
            ),
        )
    )


def _bucket_pairs(buckets: DataFrame, max_bucket_size: int | None) -> DataFrame:
    """The shared tail of the capped candidate generators: keep buckets
    of ≥ 2 ids, drop the ones past ``max_bucket_size`` (the skew/memory
    guard — ``None`` opts out), and expand each sorted ``ids`` array into
    its (id_a < id_b) pairs in-map. One row per (bucket, pair)."""
    buckets = buckets.filter(F.size("ids") >= 2)
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("ids") <= max_bucket_size)
    return buckets.select(F.explode(_ordered_pairs(F.col("ids"))).alias("p")).select(
        F.col("p.id_a"), F.col("p.id_b")
    )


def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical texts: (text_hash, n_dups, min_doc_id)."""
    h = df.select(F.col(id_col), F.md5(F.col(text_col)).alias("text_hash"))
    return (
        h.groupBy("text_hash")
        .agg(F.count("*").cast("long").alias("n_dups"), F.min(id_col).alias("min_doc_id"))
        .filter(F.col("n_dups") > 1)
    )


def shingles(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per doc: (id, shingle). JVM-side:
    tokens → transform over a sequence of offsets → concat_ws."""
    toks = whitespace_tokens_col(text_col)
    df = df.select(F.col(id_col), toks.alias("_toks"))
    sh = F.transform(
        F.sequence(F.lit(0), F.size("_toks") - n),
        lambda i: F.concat_ws(" ", F.slice("_toks", i + 1, n)),
    )
    return (
        df.filter(F.size("_toks") >= n)
        .select(F.col(id_col), F.explode(F.array_distinct(sh)).alias("shingle"))
    )


def jaccard_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """Pairs (id_a < id_b) with n-gram-set Jaccard ≥ threshold.

    Candidates come from the bucket-grouped shared-shingle expansion;
    Jaccard is then computed over the FULL shingle sets — the shared
    count for surviving candidates is re-counted against the uncapped
    shingle table, so ``max_shingle_df`` only affects recall (which
    pairs become candidates), never the reported similarity value.

    ``max_shingle_df`` defaults ON (1000): a shingle shared by d docs
    contributes O(d²) candidate pairs, so one head shingle (think ``} } }``
    in a code corpus) makes the self-join quadratic in corpus size. The cap
    drops those head shingles from candidate generation only — a pair is
    missed only if ALL its shared shingles are head shingles, which at
    Jaccard ≥ 0.8 between two ~normal docs essentially never happens. Pass
    ``None`` to explicitly opt out (exact candidates, unsafe at scale);
    ``dropped_head_shingles`` reports what the cap removed.

    Cost shape: ONE shuffle builds the posting table (shingle → sorted id
    array), localCheckpoint materializes it once, and everything else —
    per-doc set sizes, candidate pairs, the intersection count, and the
    head correction — derives from those blocks without rescanning the
    corpus. Pair expansion doubles as the intersection count: each shared
    uncapped shingle emits its pair exactly once, so the groupBy-count of
    the expansion IS the body intersection size. Only when the cap
    actually dropped shingles does a correction join run, and it joins the
    (small) candidate set against ONLY the head postings — never the full
    shingle table. (localCheckpoint instead of persist: the blocks are
    reclaimed by the ContextCleaner once the result DataFrame is dropped,
    so repeated calls in a long session don't accumulate cached blocks.)"""
    sh = shingles(df, text_col, id_col, n)
    posting = sh.groupBy("shingle").agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
    posting = posting.localCheckpoint()
    sizes = (
        posting.select(F.explode("ids").alias(id_col))
        .groupBy(id_col)
        .agg(F.count("*").alias("n_sh"))
    )
    body = posting.filter(F.size("ids") >= 2)
    head = None
    if max_shingle_df is not None:
        head = body.filter(F.size("ids") > max_shingle_df)
        body = body.filter(F.size("ids") <= max_shingle_df)
    # Candidate generation AND intersection count in one pass: expand the
    # C(df,2) ordered pairs JVM-side (nested transform over the sorted id
    # list — no self-join) and count occurrences per pair. The df cap
    # bounds the expansion at C(cap,2) per shingle — the skew guard AND
    # the memory bound of the posting-list expansion.
    inter = (
        body.select(F.explode(_ordered_pairs(F.col("ids"))).alias("p"))
        .select(F.col("p.id_a"), F.col("p.id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_body"))
    )
    if head is not None and not head.isEmpty():
        # The cap dropped head shingles: correct the intersection count by
        # joining the candidate set against the head postings only, so the
        # reported similarity stays the FULL-set Jaccard (unbiased) while
        # the correction cost is candidate-bounded, not corpus-bounded.
        hp = head.select("shingle", F.explode("ids").alias("_hid"))
        ha = hp.select(F.col("_hid").alias("id_a"), "shingle")
        hb = hp.select(F.col("_hid").alias("id_b"), "shingle")
        # merge hints: the head-posting expansion scales with the corpus
        # (head shingles each carry >cap doc ids), but its PLAN-TIME size
        # estimate (derived through explode of a checkpointed table) can
        # fall under autoBroadcastJoinThreshold — Spark then plans a
        # broadcast it can never demote and dies at the 8 GiB broadcast
        # cap on big corpora (seen at the 10x scale check). Sort-merge is
        # correct at any scale; AQE still handles skew within it.
        corr = (
            inter.select("id_a", "id_b")
            .join(ha.hint("merge"), "id_a")
            .join(hb.hint("merge"), ["id_b", "shingle"])
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("n_head"))
        )
        inter = inter.join(corr, ["id_a", "id_b"], "left").select(
            "id_a",
            "id_b",
            (F.col("n_body") + F.coalesce(F.col("n_head"), F.lit(0))).alias("n_inter"),
        )
    else:
        inter = inter.select("id_a", "id_b", F.col("n_body").alias("n_inter"))
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    # sizes is one row per doc — corpus-scaled, same forbidden-broadcast
    # reasoning as the head correction above
    out = (
        inter.join(sa.hint("merge"), "id_a")
        .join(sb.hint("merge"), "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def dropped_head_shingles(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_shingle_df: int = 1000,
) -> DataFrame:
    """Audit for the ``max_shingle_df`` guard: the head shingles the cap
    removes from Jaccard candidate generation and the posting mass dropped
    — (shingle, sdf). Run alongside ``jaccard_near_duplicates`` when you
    need the dropped-shingle count in a pipeline report."""
    sh = shingles(df, text_col, id_col, n)
    return (
        sh.groupBy("shingle")
        .agg(F.count("*").cast("long").alias("sdf"))
        .filter(F.col("sdf") > max_shingle_df)
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 8,
) -> DataFrame:
    """MinHash signature per doc: sig_j = min over shingles of
    md5(j || ':' || shingle) — (id, hash_idx, minhash)."""
    sh = shingles(df, text_col, id_col, n)
    idx = F.explode(F.sequence(F.lit(0), F.lit(num_hashes - 1))).alias("hash_idx")
    hashed = sh.select(F.col(id_col), "shingle", idx).withColumn(
        "h", F.md5(F.concat_ws(":", F.col("hash_idx").cast("string"), F.col("shingle")))
    )
    return hashed.groupBy(id_col, "hash_idx").agg(F.min("h").alias("minhash"))


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 8,
    band_size: int = 2,
    max_bucket_size: int | None = 2000,
) -> DataFrame:
    """LSH candidate pairs: docs sharing any band (band_size consecutive
    minhashes concatenated) — (id_a < id_b, n_bands_shared).

    ``max_bucket_size`` (default 2000, ``None`` to opt out) drops band
    buckets bigger than the cap before pair expansion — the skew guard
    AND the per-task memory bound: without it one hot band (e.g. a
    boilerplate band shared by millions of short docs) materializes the
    whole bucket's id array in a single row and expands O(n²) pairs in
    one task. A bucket that big is never a useful near-dup signal anyway
    (band collision probability ≈ sim^band_size, so genuine near-dup
    buckets are tiny). ``oversized_buckets`` audits what the cap drops."""
    # bucket-grouped pair expansion (no self-join — one shuffle, see
    # jaccard_near_duplicates for the pattern)
    buckets = minhash_band_buckets(df, text_col, id_col, n, num_hashes, band_size)
    return (
        _bucket_pairs(buckets, max_bucket_size)
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("long").alias("n_bands_shared"))
    )


def oversized_buckets(bucketed: DataFrame, key_cols: list[str], ids_col: str = "ids") -> DataFrame:
    """Audit helper shared by the capped candidate generators: given a
    bucket table (key columns + a collected id array), report the buckets
    a ``max_bucket_size`` cap would drop — (key_cols..., bucket_size).
    Use the ``*_buckets`` companions below to build the bucket table with
    the same keys each generator groups on."""
    return (
        bucketed.select(*key_cols, F.size(ids_col).cast("long").alias("bucket_size"))
        .filter(F.col("bucket_size") >= 2)
    )


def minhash_band_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 8,
    band_size: int = 2,
) -> DataFrame:
    """The (band_idx, band_key, ids) bucket table ``minhash_lsh_candidates``
    expands — feed to :func:`oversized_buckets` for the cap audit."""
    sig = minhash_signatures(df, text_col, id_col, n, num_hashes)
    band = sig.withColumn("band_idx", F.floor(F.col("hash_idx") / band_size).cast("int"))
    bands = band.groupBy(id_col, "band_idx").agg(
        F.concat_ws("|", F.sort_array(F.collect_list("minhash"))).alias("band_key")
    )
    return bands.groupBy("band_idx", "band_key").agg(
        F.sort_array(F.collect_list(id_col)).alias("ids")
    )


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 16) -> DataFrame:
    """SimHash over tf-weighted token hashes. Bit j of a token = the high
    bit of hex char j of md5(token) (char >= '8') — portable to any SQL
    engine; signature bit j = 1 iff Σ_tokens tf·(2b−1) > 0.

    Returns (id, simhash) with simhash as a '0'/'1' string of ``bits``."""
    assert bits <= 32
    toks = whitespace_tokens_col(text_col)
    tf = (
        df.select(F.col(id_col), F.explode(toks).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
        .withColumn("h", F.md5("term"))
    )
    j = F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("bit_idx")
    per_bit = tf.select(F.col(id_col), "tf", "h", j).withColumn(
        "contrib",
        F.when(F.substring("h", F.col("bit_idx") + 1, 1).isin("8", "9", "a", "b", "c", "d", "e", "f"), F.col("tf")).otherwise(-F.col("tf")),
    )
    bitvals = per_bit.groupBy(id_col, "bit_idx").agg(
        F.when(F.sum("contrib") > 0, F.lit("1")).otherwise(F.lit("0")).alias("bit")
    )
    w_bits = F.sort_array(F.collect_list(F.struct("bit_idx", "bit")))
    return bitvals.groupBy(id_col).agg(
        F.concat_ws("", F.transform(w_bits, lambda s: s["bit"])).alias("simhash")
    )


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star round (Kiveris et al., "Connected Components in
    MapReduce and Beyond", Algorithm 3): for each node u, connect every
    strictly-larger neighbor to min(Γ(u) ∪ {u}). Output edges are
    oriented (big, small)."""
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.least(F.col("u"), F.col("mn")).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star round (ibid., Algorithm 4): orient each edge (big,
    small); for each node u, connect u and all its smaller neighbors to
    the smallest of them. Output edges stay oriented (big, small)."""
    d = e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
    mins = d.groupBy("u").agg(F.min("v").alias("mn"))
    out = d.join(mins, "u").select(F.col("v").alias("u"), F.col("mn").alias("v")).union(
        mins.select("u", F.col("mn").alias("v"))
    )
    return out.where(F.col("u") != F.col("v")).distinct()


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Resolve near-dup PAIRS into dedup GROUPS: (id, component) where
    component = the smallest id reachable through the pair graph — the
    canonical-representative rule every dedup pipeline needs downstream
    of the pair detectors.

    Large-star/small-star alternation (Kiveris et al. 2014): each round
    rewires edges toward per-neighborhood minima, converging to a union
    of stars centered on each component's smallest id in O(log n) rounds
    — independent of graph DIAMETER, unlike min-label propagation, so a
    100 TB crawl with chained near-dups (A~B~C~…, diameter ≫ 25) still
    converges. Each half-round is one groupBy shuffle + one equi-join,
    both skew-splittable by AQE; the edge set is ``localCheckpoint``-ed
    per round to truncate lineage (the pair list usually hangs off an
    expensive detector DAG — shingle joins, LSH — which must not re-run
    per round). Converged when the oriented edge set reaches its fixed
    point (exact set compare); raises if ``max_iter`` rounds don't
    converge."""
    e = (
        pairs.select(
            F.greatest(F.col(id_a), F.col(id_b)).alias("u"),
            F.least(F.col(id_a), F.col(id_b)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    nodes = (
        e.select(F.col("u").alias("id")).union(e.select(F.col("v").alias("id"))).distinct()
    )
    e_cnt = e.count()
    for _ in range(max_iter):
        new = _small_star(_large_star(e)).localCheckpoint()
        # fixed point ⇔ new == e: both sides distinct + (big, small)
        # oriented, so equal counts plus new ⊆ e ⇒ set equality
        new_cnt = new.count()
        same = new_cnt == e_cnt and new.join(e, ["u", "v"], "left_anti").isEmpty()
        e, e_cnt = new, new_cnt
        if same:
            # stars: every non-root points straight at its component min;
            # roots (never in the u column) map to themselves
            roots = nodes.join(e, nodes["id"] == e["u"], "left_anti")
            return e.select(F.col("u").alias("id"), F.col("v").alias("component")).union(
                roots.select("id", F.col("id").alias("component"))
            )
    raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")


def simhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
    max_hamming: int = 3,
    n_blocks: int | None = None,
    max_bucket_size: int | None = 2000,
) -> DataFrame:
    """SimHash near-dup pairs: (id_a < id_b, hamming ≤ max_hamming).

    Candidate generation is the classic pigeonhole block split (Manku et
    al., WWW 2007 "Detecting near-duplicates for web crawling"): split
    the ``bits``-wide signature into ``max_hamming + 1`` equal blocks —
    any pair within the Hamming radius must agree EXACTLY on at least one
    block (≤ max_hamming bits differ, so they cannot touch all blocks).
    Group by (block_idx, block_value) and expand pairs in-map (the same
    one-shuffle pattern as the other candidate generators), then verify
    the exact Hamming distance on the full signatures. Guaranteed recall
    1.0 within the radius — unlike banded MinHash this is exact — EXCEPT
    for pairs living only in blocks bigger than ``max_bucket_size``
    (default 2000, ``None`` to opt out): the cap drops hot blocks (e.g.
    a block value shared by a whole boilerplate family) before the O(n²)
    in-row pair expansion, the same skew/memory guard as the other
    generators. ``oversized_buckets`` over :func:`simhash_block_buckets`
    audits what it removed."""
    k = n_blocks if n_blocks is not None else max_hamming + 1
    if k < max_hamming + 1:
        raise ValueError("need at least max_hamming+1 blocks for exact recall")
    sig = simhash(df, text_col, id_col, bits)
    pairs = _bucket_pairs(_simhash_blocks(sig, id_col, bits, k), max_bucket_size).distinct()
    sa = sig.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"))
    sb = sig.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"))
    # exact Hamming distance over the '0'/'1' strings (JVM expression)
    ham = F.aggregate(
        F.zip_with(F.split("sh_a", ""), F.split("sh_b", ""), lambda x, y: F.when(x != y, 1).otherwise(0)),
        F.lit(0),
        lambda a, x: a + x,
    )
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_block_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
    max_hamming: int = 3,
    n_blocks: int | None = None,
) -> DataFrame:
    """The (block_idx, block_val, ids) bucket table
    ``simhash_near_duplicates`` expands — feed to
    :func:`oversized_buckets` for the cap audit."""
    k = n_blocks if n_blocks is not None else max_hamming + 1
    return _simhash_blocks(simhash(df, text_col, id_col, bits), id_col, bits, k)


def _simhash_blocks(sig: DataFrame, id_col: str, bits: int, k: int) -> DataFrame:
    """(block_idx, block_val, ids) from a (id, simhash) signature frame:
    the ``bits``-wide signature split into ``k`` contiguous blocks (the
    first ``bits mod k`` get one extra bit), grouped by block value."""
    width = bits // k
    rem = bits - width * k
    # block boundaries as literals (bits is small and fixed)
    bounds = []
    pos = 1
    for i in range(k):
        w = width + (1 if i < rem else 0)
        bounds.append((pos, w))
        pos += w
    blocks = sig.select(
        F.col(id_col),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("block_idx"),
                    F.substring("simhash", p, w).alias("block_val"),
                )
                for i, (p, w) in enumerate(bounds)
            ])
        ).alias("b"),
    ).select(id_col, F.col("b.block_idx"), F.col("b.block_val"))
    return blocks.groupBy("block_idx", "block_val").agg(
        F.sort_array(F.collect_list(id_col)).alias("ids")
    )


def apply_dedup(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """The APPLY step of the dedup pipeline: given the corpus and a
    near-dup pair list, drop every non-canonical group member (canonical
    = the component's min id, via :func:`connected_components`) and keep
    all unpaired docs. One anti-join against the (small) non-canonical
    id set — the corpus itself is never shuffled."""
    comp = connected_components(pairs, id_a, id_b)
    losers = comp.filter(F.col("id") != F.col("component")).select(F.col("id").alias(id_col))
    return df.join(losers, id_col, "left_anti")


def embedding_lsh_candidates(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bands: int = 6,
    band_bits: int = 4,
    max_bucket_size: int | None = 2000,
) -> DataFrame:
    """Banded sign-LSH candidate pairs for embedding near-dup.

    Signature = signs of the first ``n_bands * band_bits`` coordinates
    (axis-aligned hyperplanes — deterministic and SQL-checkable; see
    ``similarity.rp_signature`` for the seeded random-projection variant).
    The signature is split into ``n_bands`` bands of ``band_bits``; a pair
    is a candidate iff it agrees on at least one whole band. For vectors at
    cosine θ, P(one sign bit agrees) = 1 − θ/π, so at near-dup thresholds
    (cos ≥ 0.95 ⇒ θ ≤ 18°, p ≈ 0.9) the default 6×4 bands give ≥ 0.995
    candidate recall while candidate volume stays O(bucket collisions) —
    never O(n²). ``max_bucket_size`` (default 2000, ``None`` to opt out)
    drops band buckets bigger than the cap before pair expansion — the
    all-'0' band key is a real hazard when the leading coordinates skew
    non-negative (normalized embeddings often do), and an uncapped hot
    bucket expands O(n²) structs in one task. Returns DISTINCT
    (id_a < id_b) pairs only (no vectors): join vectors back by id so
    the exploded band table stays narrow.
    """
    buckets = embedding_band_buckets(emb, id_col, vec_col, n_bands, band_bits)
    return _bucket_pairs(buckets, max_bucket_size).distinct()


def embedding_band_buckets(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bands: int = 6,
    band_bits: int = 4,
) -> DataFrame:
    """The (band_idx, band_key, ids) bucket table
    ``embedding_lsh_candidates`` expands — feed to
    :func:`oversized_buckets` for the cap audit."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    nbits = n_bands * band_bits
    bits = F.transform(
        F.slice(v, 1, nbits), lambda x: F.when(x >= 0, F.lit("1")).otherwise(F.lit("0"))
    )
    sig = emb.select(F.col(id_col), bits.alias("bits"))
    bands = sig.select(
        F.col(id_col),
        "bits",
        F.explode(F.sequence(F.lit(0), F.lit(n_bands - 1))).alias("band_idx"),
    ).withColumn(
        "band_key",
        F.concat_ws("", F.slice("bits", F.col("band_idx") * band_bits + 1, band_bits)),
    ).select(id_col, "band_idx", "band_key")
    return bands.groupBy("band_idx", "band_key").agg(
        F.sort_array(F.collect_list(id_col)).alias("ids")
    )


def embedding_near_duplicates(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    method: str = "lsh",
    n_bands: int = 6,
    band_bits: int = 4,
    max_bucket_size: int | None = 2000,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (id_a < id_b, cos ≥ threshold).

    ``method="lsh"`` (default, the 100 TB path): banded sign-LSH candidate
    generation (``embedding_lsh_candidates``) then exact cosine on the
    candidate pairs only — the plan contains no CartesianProduct
    (asserted by tests/test_plans.py). ``method="exact"`` is the all-pairs
    O(n²) oracle, for tests and small n only."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    e = emb.select(F.col(id_col), v.alias("v"))
    norm = F.sqrt(F.aggregate(F.col("v"), F.lit(0.0), lambda a, x: a + x * x))
    e = e.withColumn("nrm", norm)
    a = e.select(F.col(id_col).alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na"))
    b = e.select(F.col(id_col).alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    if method == "lsh":
        cand = embedding_lsh_candidates(emb, id_col, vec_col, n_bands, band_bits, max_bucket_size)
        pairs = cand.join(a, "id_a").join(b, "id_b")
    elif method == "exact":
        pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    else:
        raise ValueError(f"unknown method {method!r} (expected 'lsh' or 'exact')")
    dot = F.aggregate(F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda a_, x: a_ + x)
    return (
        pairs.withColumn("cos", F.round(dot / (F.col("na") * F.col("nb")), 6))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )
