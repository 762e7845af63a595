"""Similarity search over embedding columns (array<float>).

The reference exports dense vectors to NMSLIB for kNN
(``apps/ExportToNMSLIBDenseSparseFusion.java``; distances in
``simil_func/DistanceFunctions.java:43-604``); here the kNN itself is a
Spark plan:

- ``cosine_topk`` — brute-force exact top-k: broadcast the query vectors,
  JVM-side dot products via ``zip_with``/``aggregate`` (no Python in the
  hot path), per-query window top-k. The baseline and the oracle.
- ``lsh_buckets`` / ``lsh_ann_topk`` — sign-bucket LSH: bucket key from
  the signs of ``nbits`` fixed coordinates (axis-aligned hyperplanes —
  deterministic and SQL-checkable). Candidates are searched only within
  the query's bucket: the 100 TB path (bucket count scales the candidate
  set down ~2^nbits).
- ``rp_signature`` / ``rp_ann_topk`` — the production-recall variant:
  signs of a SEEDED random Gaussian projection (SRP-LSH, Charikar 2002),
  computed by an Arrow-batched pandas UDF (one BLAS matmul per batch).
  Not SQL-expressible (seeded matrix), so verified by a recall@k-vs-
  brute-force pytest instead of a DuckDB oracle.
- ``ivf_topk`` — IVF-style coarse quantization: centroids are the
  ``n_cells`` vectors with the smallest md5(id) (deterministic, valid for
  string ids); every vector gets its nearest centroid from a narrow
  Arrow-batched BLAS map (centroids in the UDF closure — no join back to
  the corpus); queries probe their ``nprobe`` nearest cells through the
  same map. Exact within the probed cells.
- ``pq_train`` / ``pq_encode`` / ``pq_topk`` — product quantization
  (Jégou et al. 2011): per-subspace codebooks, 8·m bits per vector,
  asymmetric-distance (ADC) scoring through per-query LUTs.
- ``ivfpq_topk`` / ``ivfpq_build`` / ``ivfpq_search`` — IVFADC, the
  composition: PQ over the residual x − c(x) inside coarse cells; the
  persisted form stores a cell-partitioned codes table (probe-time
  partition pruning) — the billion-vector layout.

The top-k operators share one rank tail (per query: cos_r desc, id asc,
rank ≤ k) and return the family shape (query_vec_id, vec_id, cos_r,
rank).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType


def _as_double(vec_col: str):
    return F.transform(F.col(vec_col), lambda x: x.cast("double"))


def _dot(a: str, b: str):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norm(col: str):
    return F.sqrt(F.aggregate(F.col(col), F.lit(0.0), lambda a, x: a + x * x))


def _materialize_small(df: DataFrame) -> DataFrame:
    """Collect a broadcast-sized frame (centroids: n_cells rows;
    codebooks: m·n_codes rows) and re-create it as a local DataFrame.
    This CUTS the lineage: a trained codebook otherwise re-runs its
    whole (iterative) training job for every downstream consumer —
    encode, query LUT, centroid⊙codeword table — and per Lloyd round.
    Values are deterministic (md5 seeds + 6dp rounding), so this is a
    pure plan optimization with identical results."""
    return df.sparkSession.createDataFrame(df.collect(), df.schema)


def _vectors(emb: DataFrame, id_col: str, vec_col: str, *keep: str) -> DataFrame:
    """(id, *keep, v, nrm): the vector cast to double and its L2 norm."""
    e = emb.select(F.col(id_col), *keep, _as_double(vec_col).alias("v"))
    return e.withColumn("nrm", _norm("v"))


def _as_queries(e: DataFrame, id_col: str, *keep) -> DataFrame:
    """The query side of a :func:`_vectors` frame: (query_vec_id, *keep, qv, qn)."""
    return e.select(
        F.col(id_col).alias("query_vec_id"), *keep, F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )


def _rank_topk(scored: DataFrame, k: int, id_col: str) -> DataFrame:
    """The family's rank tail: per query, (cos_r desc, id asc) → rank ≤ k.
    Returns (query_vec_id, vec_id, cos_r, rank)."""
    w = Window.partitionBy("query_vec_id").orderBy(F.desc("cos_r"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_vec_id", F.col(id_col).alias("vec_id"), "cos_r", "rank")
    )


def _exact_topk(e: DataFrame, q: DataFrame, key: str | None, k: int, id_col: str) -> DataFrame:
    """Exact cosine top-k of the broadcast query side ``q`` (query_vec_id,
    key, qv, qn) over the database vectors ``e`` (id, key, v, nrm) that
    share its bucket ``key`` (None: every vector — the brute-force scan).
    Self-matches are dropped."""
    pairs = e.crossJoin(F.broadcast(q)) if key is None else e.join(F.broadcast(q), key)
    scored = pairs.filter(F.col(id_col) != F.col("query_vec_id")).withColumn(
        "cos_r", F.round(_dot("v", "qv") / (F.col("nrm") * F.col("qn")), 6)
    )
    return _rank_topk(scored, k, id_col)


def cosine_topk(
    emb: DataFrame,
    query_ids: list,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force cosine top-k neighbours for the given query ids
    (self excluded). Returns (query_vec_id, vec_id, cos_r, rank)."""
    e = _vectors(emb, id_col, vec_col)
    q = _as_queries(e.filter(F.col(id_col).isin(query_ids)), id_col)
    return _exact_topk(e, q, None, k, id_col)


def lsh_buckets(emb: DataFrame, nbits: int = 8, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Sign-LSH bucket per vector: '1'/'0' per coordinate 1..nbits."""
    v = _as_double(vec_col)
    key = F.concat_ws(
        "",
        F.transform(F.slice(v, 1, nbits), lambda x: F.when(x >= 0, F.lit("1")).otherwise(F.lit("0"))),
    )
    return emb.select(F.col(id_col), F.col(vec_col), key.alias("bucket"))


def lsh_ann_topk(
    emb: DataFrame,
    query_ids: list,
    k: int = 5,
    nbits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multi_probe: bool = False,
) -> DataFrame:
    """Approximate top-k: exact cosine within the query's LSH bucket.

    ``multi_probe=True`` additionally probes every Hamming-distance-1
    bucket (flip each signature bit once — the standard multi-probe LSH
    recall boost: nbits+1 buckets searched instead of 2× the hash count;
    Lv et al., VLDB 2007). Database vectors live in exactly one bucket,
    so probes never produce duplicate candidates."""
    e = _vectors(lsh_buckets(emb, nbits, id_col, vec_col), id_col, vec_col, "bucket")
    q = _as_queries(e.filter(F.col(id_col).isin(query_ids)), id_col, "bucket")
    if multi_probe:
        flips = F.transform(F.sequence(F.lit(1), F.lit(nbits)), lambda j: F.concat(
            F.substring("bucket", F.lit(1), j - 1),
            F.when(F.substring("bucket", j, F.lit(1)) == "1", F.lit("0")).otherwise(F.lit("1")),
            F.substring("bucket", j + 1, F.lit(nbits)),
        ))
        q = q.withColumn("bucket", F.explode(F.concat(F.array("bucket"), flips)))
    return _exact_topk(e, q, "bucket", k, id_col)


def rp_signature(
    emb: DataFrame,
    nbits: int = 16,
    seed: int = 13,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Signed-random-projection signature (SRP-LSH): bucket = signs of
    ``R @ v`` where R is a dim×nbits standard Gaussian drawn from a seeded
    generator — every executor derives the identical R, so the operator is
    deterministic with no broadcast needed. One Arrow batch = one BLAS
    matmul; no per-row Python. Hyperplanes are isotropic, so P(bit match)
    = 1 − θ/π holds for ANY input distribution — unlike the axis-aligned
    ``lsh_buckets``, which degrades when coordinates are correlated."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _sig(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        mat = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        rng = np.random.default_rng(seed)
        proj = rng.standard_normal((mat.shape[1], nbits))
        bits = (mat @ proj) >= 0.0
        return pd.Series(["".join("1" if b else "0" for b in row) for row in bits])

    return emb.select(F.col(id_col), F.col(vec_col), _once(_sig(F.col(vec_col))).alias("bucket"))


def rp_ann_topk(
    emb: DataFrame,
    query_ids: list,
    k: int = 5,
    nbits: int = 8,
    seed: int = 13,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: exact cosine within the query's SRP-LSH bucket
    (random-projection signs — the production-recall scale path)."""
    e = _vectors(rp_signature(emb, nbits, seed, id_col, vec_col), id_col, vec_col, "bucket")
    q = _as_queries(e.filter(F.col(id_col).isin(query_ids)), id_col, "bucket")
    return _exact_topk(e, q, "bucket", k, id_col)


def ivf_centroids(
    emb: DataFrame, n_cells: int = 8, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Deterministic centroid pick valid for ANY id type: the ``n_cells``
    vectors with the smallest md5(id) (a uniform pseudo-random sample with
    an exact SQL twin). Executes as TakeOrderedAndProject — a bounded
    top-n, not a global sort. Returns (cell, cv, cn) where ``cell`` is the
    centroid's own id."""
    return _md5_pick(_vectors(emb, id_col, vec_col), n_cells, id_col).select(
        F.col(id_col).alias("cell"), F.col("v").alias("cv"), F.col("nrm").alias("cn")
    )


def _md5_pick(e: DataFrame, n: int, id_col: str) -> DataFrame:
    """The ``n`` rows with the smallest md5(id), ties by id — a bounded
    top-n (TakeOrderedAndProject) with an exact SQL twin."""
    return e.orderBy(F.md5(F.col(id_col).cast("string")), id_col).limit(n)


def _rounded_means(df: DataFrame, keys: list, vcol: str, out: str) -> DataFrame:
    """The Lloyd recompute step: per ``keys`` group, the coordinate-wise
    mean of ``vcol`` (posexplode/groupBy — one shuffle, map-side
    combined), each coordinate rounded to 6 decimals. The rounding makes
    the result independent of partial-aggregation order (double sums of
    group-sized inputs agree to ~1e-12, far inside it), so the training
    has an exact SQL twin. Returns (*keys, out)."""
    return (
        df.select(*keys, F.posexplode(vcol).alias("pos", "val"))
        .groupBy(*keys, "pos")
        .agg(F.round(F.avg("val"), 6).alias("mval"))
        .groupBy(*keys)
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "mval"))), lambda s: s["mval"]
            ).alias(out)
        )
    )


def _probe_cells_udf(cents_rows: list, nprobe: int):
    """Arrow-batched nearest-cells assignment — the ONE nearest-cell
    ranking of the IVF family: the centroids (n_cells rows —
    driver-sized by contract) ship in the UDF closure as one numpy
    matrix; each batch is ONE BLAS matmul. A narrow map: no crossJoin,
    no corpus-wide row_number window over N·n_cells rows, and at a
    realistic cell count (IVF wants ~√N cells) the matmul also beats any
    per-row expression form on CPU. Ordering is the DuckDB oracle's
    (cos desc, cell asc) tie rule: centroid rows are pre-sorted by cell
    and a STABLE argsort keeps the lower cell on exact ties. The per-row
    |v| factor is dropped (constant across cells — identical ordering).
    BLAS sums in a different order than the SQL twin's sequential fold,
    so two cells whose cosines agree to ~1e-14 could in principle rank
    either way — the rp_ann boundary-mass argument: negligible for real
    data, and the oracle entries pin it on the test corpora."""
    from pyspark.sql.functions import pandas_udf

    rows = sorted(cents_rows, key=lambda r: r.cell)
    cmat = np.stack([np.asarray(r.cv, dtype=np.float64) for r in rows])
    cn = np.asarray([float(r.cn) for r in rows])
    cells = [r.cell for r in rows]
    str_cells = isinstance(cells[0], str)

    @pandas_udf("array<string>" if str_cells else "array<long>")
    def _probe(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        x = np.asarray([np.asarray(row, dtype=np.float64) for row in v])
        score = (x @ cmat.T) / cn[None, :]
        order = np.argsort(-score, axis=1, kind="stable")[:, :nprobe]
        return pd.Series([[cells[j] for j in row] for row in order])

    return _probe


def _once(udf_out: Column) -> Column:
    """A scalar UDF's output as a one-element generator, so the UDF runs
    once per row: a filter inferred on a plain UDF output column
    (isnotnull of a join key) is pushed below the projection and runs the
    UDF a second time, while a generator's output stays above it."""
    return F.explode(F.array(udf_out))


def _empty_frame(df: DataFrame, fields: list) -> DataFrame:
    """A 0-row frame with the given schema fields — the result of an
    assignment over empty input (no centroid/codebook rows to rank)."""
    return df.sparkSession.createDataFrame([], StructType(fields))


def _probed(e: DataFrame, cents: DataFrame, nprobe: int, model_given: bool, rows=None) -> DataFrame:
    """``e`` (column ``v``) plus (pos, cell): one row per each vector's
    ``nprobe`` nearest cells, best first, from one narrow map
    (:func:`_probe_cells_udf`). At ``nprobe=1`` that is each vector's
    storage cell, with no join back to the corpus; the stable argsort
    makes it the first probe cell at every ``nprobe``. The generator
    wraps the UDF call itself, so the UDF runs once (:func:`_once`).
    Empty input gives a 0-row frame; an explicitly passed
    (``model_given``) empty model over real data is an upstream bug
    (wrong or empty index path), so it raises rather than emit a
    silently empty assignment. ``rows``: the already collected ``cents``
    (each collect is a Spark job)."""
    cent_rows = cents.collect() if rows is None else rows
    if cent_rows:
        probe = _probe_cells_udf(cent_rows, nprobe)
        return e.select("*", F.posexplode(probe("v")).alias("pos", "cell"))
    if model_given and not e.isEmpty():
        raise ValueError("empty centroids for non-empty input")
    pos = StructField("pos", IntegerType(), False)
    return _empty_frame(e, [*e.schema.fields, pos, cents.schema["cell"]])


def _coarse_model(emb: DataFrame, centroids, n_cells: int, id_col: str, vec_col: str) -> DataFrame:
    """The given centroids, or the md5-picked :func:`ivf_centroids`,
    materialized once so no consumer re-runs the corpus-wide pick."""
    return _materialize_small(
        centroids if centroids is not None else ivf_centroids(emb, n_cells, id_col, vec_col)
    )


def ivf_train(
    emb: DataFrame,
    n_cells: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd k-means training for the IVF coarse quantizer: init = the
    md5-hash-picked vectors (:func:`ivf_centroids`), then ``n_iter``
    rounds of assign (:func:`_probed`, cosine argmax) + recompute
    (:func:`_rounded_means`, per-cell means rounded to 6dp — an exact SQL
    twin). Cells that lose all members drop out (standard Lloyd
    behaviour). Empty input returns an empty model. Returns
    (cell, cv, cn)."""
    e = emb.select(F.col(id_col), _as_double(vec_col).alias("v"))
    cents = ivf_centroids(emb, n_cells, id_col, vec_col)
    for _ in range(n_iter):
        means = _rounded_means(_probed(e, cents, 1, False), ["cell"], "v", "cv")
        cents = _materialize_small(means.withColumn("cn", _norm("cv")))
    return cents


def ivf_assign(
    emb: DataFrame,
    n_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Rank each vector's cells by cosine against the centroids
    (hash-picked by default, or pass trained ones from
    :func:`ivf_train`). Returns (id, cell, r) for r ≤ nprobe; r=1 is the
    storage assignment, r ≤ nprobe>1 is the query probe set. A NARROW
    Arrow-batched map (:func:`_probe_cells_udf`, one BLAS matmul per
    batch) ranking (cos desc, cell asc) like the DuckDB oracle."""
    e = emb.select(F.col(id_col), _as_double(vec_col).alias("v"))
    cents = centroids if centroids is not None else ivf_centroids(emb, n_cells, id_col, vec_col)
    return _probed(e, cents, nprobe, model_given=centroids is not None).select(
        id_col, "cell", (F.col("pos") + F.lit(1)).cast("int").alias("r")
    )


def ivf_topk(
    emb: DataFrame,
    query_ids: list,
    k: int = 5,
    n_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF ANN: database vectors live in their nearest cell; each query
    probes its ``nprobe`` nearest cells and runs exact cosine inside
    them. Cells partition the corpus, so the probe join yields each
    candidate once — no dedup needed. Both sides get their cells from one
    narrow map over their own rows, so the corpus is never joined back
    to an assignment. Pass ``centroids`` from :func:`ivf_train` for the
    trained quantizer."""
    cents = centroids if centroids is not None else ivf_centroids(emb, n_cells, id_col, vec_col)
    rows, given = cents.collect(), centroids is not None
    e = _vectors(emb, id_col, vec_col)
    db = _probed(e, cents, 1, given, rows)  # each vector's storage cell
    q = _probed(e.filter(F.col(id_col).isin(query_ids)), cents, max(1, nprobe), given, rows)
    return _exact_topk(db, _as_queries(q, id_col, "cell"), "cell", k, id_col)


# ---------------------------------------------------------------------------
# Product Quantization (PQ) — the embedding COMPRESSION scale path
# ---------------------------------------------------------------------------

def _subvectors(vcol: str, m: int, dsub: int):
    """One row per subspace: posexplode of the ``m`` slices of ``vcol``."""
    return F.posexplode(F.array(*[F.slice(F.col(vcol), s * dsub + 1, dsub) for s in range(m)]))


def _pq_dims(emb: DataFrame, m: int, vec_col: str) -> int:
    row = emb.select(F.size(vec_col).alias("d")).first()
    if row is None:
        return 0  # empty input: callers produce an empty frame downstream
    d = row["d"]
    if d % m != 0:
        raise ValueError(f"embedding dim {d} not divisible by m={m} subspaces")
    return d // m


def _nearest_code_udf(cb_rows: list):
    """Arrow-batched nearest-codeword assignment — the ONE
    nearest-codeword ranking of the PQ family: the codebook (m·n_codes
    rows — driver-sized by contract) ships in the UDF closure as
    per-subspace numpy matrices; each batch is ONE BLAS matmul per
    subspace. A narrow map: no codebook join and no (id, sub)-window
    over N·m·n_codes rows, and unlike a literal-expression LUT
    (higher-order functions are interpreted, not codegen'd) it keeps the
    per-row cost vectorized. d2 is the expanded x·x − 2·x·c + c·c form
    the SQL twin spells out IDENTICALLY, rounded to 6dp, which turns
    float-order near-ties into exact ties broken by code asc (codebook
    rows sorted by code, argmin keeps the first) — the ivf_train
    determinism discipline. Rounding happens at 6dp, far above
    BLAS-vs-sequential summation ulps, so results agree with the SQL
    twin exactly."""
    from pyspark.sql.functions import pandas_udf

    by_sub: dict[int, list] = {}
    for r in cb_rows:
        by_sub.setdefault(int(r.sub), []).append(r)
    mats: dict[int, np.ndarray] = {}
    code_lists: dict[int, list] = {}
    for s, lst in by_sub.items():
        lst.sort(key=lambda r: r.code)
        mats[s] = np.stack([np.asarray(r.cw, dtype=np.float64) for r in lst])
        code_lists[s] = [r.code for r in lst]
    str_codes = isinstance(next(iter(code_lists.values()))[0], str)

    @pandas_udf("string" if str_codes else "long")
    def _assign(sub: pd.Series, sv: pd.Series) -> pd.Series:
        if len(sub) == 0:
            return pd.Series([], dtype=object if str_codes else np.int64)
        subs = sub.to_numpy()
        sv_mat = np.asarray([np.asarray(x, dtype=np.float64) for x in sv])
        out = np.empty(len(subs), dtype=object if str_codes else np.int64)
        for s in np.unique(subs):
            idx = np.nonzero(subs == s)[0]
            x = sv_mat[idx]
            c = mats[int(s)]
            d2 = np.round((x * x).sum(1)[:, None] - 2.0 * (x @ c.T) + (c * c).sum(1)[None, :], 6)
            best = np.argmin(d2, axis=1)
            codes = code_lists[int(s)]
            for j, b in zip(idx, best):
                out[j] = codes[b]
        return pd.Series(out)

    return _assign


def pq_train(
    emb: DataFrame,
    m: int = 4,
    n_codes: int = 16,
    n_iter: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Train PQ codebooks (Jégou et al. 2011): split each vector into
    ``m`` subvectors; per subspace, k-means with ``n_codes`` codewords.
    Init = the md5-hash-picked vectors' subvectors (the
    :func:`ivf_centroids` seed trick, same rows for every subspace), then
    ``n_iter`` Lloyd rounds (assign by rounded squared-L2 through
    :func:`_nearest_code_udf`, recompute per-(sub, code, pos) means
    rounded to 6dp → exact SQL twin, like :func:`ivf_train`; a codeword
    with zero assignments keeps its previous value, so the codebook
    always stays m·n_codes rows). Empty input returns the empty initial
    codebook. Returns (sub, code, cw).

    Scale posture: the codebook is m·n_codes·(d/m) floats — driver/
    broadcast-sized regardless of corpus size, and the assignment is a
    narrow Arrow/BLAS map with no N·m·n_codes-row shuffle."""
    dsub = _pq_dims(emb, m, vec_col)
    e = emb.select(F.col(id_col), _as_double(vec_col).alias("v"))
    # code labels are the seed vectors' own ids — arbitrary but stable,
    # densifiable (dictionary range-partition trick) for a uint8 layout
    seeds = _md5_pick(e, n_codes, id_col).select(F.col(id_col).alias("code"), "v")
    cb = seeds.select(_subvectors("v", m, dsub).alias("sub", "cw"), "code")
    cb = cb.select("sub", "code", "cw")
    subs = e.select(F.col(id_col), _subvectors("v", m, dsub).alias("sub", "sv"))
    for _ in range(n_iter):
        cb_rows = cb.collect()
        if not cb_rows:
            return cb  # empty input: nothing to assign
        assign_udf = _nearest_code_udf(cb_rows)
        assigned = subs.select(id_col, "sub", "sv", assign_udf("sub", "sv").alias("code"))
        means = _rounded_means(assigned, ["sub", "code"], "sv", "new_cw")
        # Classic Lloyd convention: a codeword with no assignments keeps
        # its previous value (left join + coalesce) so the codebook never
        # silently shrinks below n_codes.
        cb = _materialize_small(
            cb.join(means, ["sub", "code"], "left")
            .select("sub", "code", F.coalesce("new_cw", "cw").alias("cw"))
        )
    return cb


def pq_encode(
    emb: DataFrame,
    codebooks: DataFrame,
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector as ``m`` uint8-sized code ids — 8·m bits per
    vector vs 32·d for raw floats (64-dim float32 → 4 bytes: 64×
    compression at m=4). Returns (vec_id, sub, code): nearest codeword
    per subspace by rounded squared-L2, ties → code asc — a narrow
    Arrow-batched map (:func:`_nearest_code_udf`, one BLAS matmul per
    batch — no join, no shuffle)."""
    return _pq_codes(emb, codebooks, m, vec_col, [id_col])


def _pq_codes(emb: DataFrame, codebooks: DataFrame, m: int, vec_col: str, keep: list) -> DataFrame:
    """:func:`pq_encode` carrying the ``keep`` columns through the map:
    (*keep, sub, code)."""
    dsub = _pq_dims(emb, m, vec_col)
    subs = emb.select(*keep, _subvectors(vec_col, m, dsub).alias("sub", "raw_sv")).withColumn(
        "sv", F.transform("raw_sv", lambda x: x.cast("double"))
    )
    cb_rows = codebooks.collect()
    if not cb_rows:
        # codebooks are always caller-supplied here: empty model over
        # real data = upstream bug (wrong/empty index path) — raise
        # rather than emit a silently empty encoded index
        if not emb.isEmpty():
            raise ValueError("pq_encode: empty codebooks for non-empty input")
        fields = [subs.schema[c] for c in (*keep, "sub")]
        return _empty_frame(emb, [*fields, codebooks.schema["code"]])
    assign_udf = _nearest_code_udf(cb_rows)
    return subs.select(*keep, "sub", _once(assign_udf("sub", "sv")).alias("code"))


def _codeword_lut(df: DataFrame, keys: list, vcol: str, cb: DataFrame, m: int, dsub: int, dot: str):
    """An ADC lookup table (broadcast-sized: |df|·m·n_codes rows): per
    row of ``df`` and codeword, the dot of the row's ``vcol`` subvector
    with the codeword, and |cw|². Returns (*keys, sub, code, dot, cwn2)."""
    subs = df.select(*keys, _subvectors(vcol, m, dsub).alias("sub", "x"))
    return subs.join(F.broadcast(cb), "sub").select(
        *keys, "sub", "code", _dot("x", "cw").alias(dot), _dot("cw", "cw").alias("cwn2")
    )


def pq_topk(
    emb: DataFrame,
    query_ids: list,
    k: int = 5,
    m: int = 4,
    n_codes: int = 16,
    n_iter: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: DataFrame | None = None,
) -> DataFrame:
    """PQ ANN with asymmetric distance (ADC): database vectors are
    scored through their reconstructions (concatenated codewords), the
    query stays raw — approx_cos(q, x) = q·recon(x) / (|q|·|recon(x)|),
    accumulated per subspace from a per-query lookup table (the classic
    ADC LUT: m·n_codes partial dot products per query, broadcast-sized).
    Returns (query_vec_id, vec_id, cos_r, rank) — the family shape."""
    cb = codebooks if codebooks is not None else pq_train(emb, m, n_codes, n_iter, id_col, vec_col)
    dsub = _pq_dims(emb, m, vec_col)
    codes = pq_encode(emb, cb, m, id_col, vec_col)
    qe = _as_queries(_vectors(emb.filter(F.col(id_col).isin(query_ids)), id_col, vec_col), id_col)
    lut = _codeword_lut(qe, ["query_vec_id", "qn"], "qv", cb, m, dsub, "part")
    scored = (
        codes.join(F.broadcast(lut), ["sub", "code"])
        .groupBy("query_vec_id", "qn", F.col(id_col).alias("vec_id"))
        .agg(F.sum("part").alias("num"), F.sum("cwn2").alias("rn2"))
        .filter(F.col("vec_id") != F.col("query_vec_id"))
        .withColumn("cos_r", F.round(F.col("num") / (F.col("qn") * F.sqrt("rn2")), 6))
    )
    return _rank_topk(scored, k, "vec_id")


# ---------------------------------------------------------------------------
# IVF-PQ (IVFADC) — the billion-vector composition of the two scale paths
# ---------------------------------------------------------------------------

def ivfpq_residuals(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its nearest coarse cell (:func:`_probed`)
    and subtract that centroid: the residual is what the PQ codebooks
    quantize (Jégou et al. 2011 §V, IVFADC). Returns (id, cell, rv). The
    subtraction is exact IEEE (`zip_with` x−y), so it twins in SQL."""
    e = emb.select(F.col(id_col), _as_double(vec_col).alias("v"))
    return (
        _probed(e, centroids, 1, True)
        .join(F.broadcast(centroids.select("cell", "cv")), "cell")
        .select(id_col, "cell", F.zip_with("v", "cv", lambda x, y: x - y).alias("rv"))
    )


def _residual_pq(resid: DataFrame, m: int, n_codes: int, n_iter: int, id_col: str):
    """Train PQ codebooks on the residuals (:func:`ivfpq_residuals`) and
    encode them, carrying each row's cell through the encode map. Returns
    (codebooks, codes) with codes = (id, cell, sub, code)."""
    cb = pq_train(resid, m, n_codes, n_iter, id_col, "rv")
    return cb, _pq_codes(resid, cb, m, "rv", [id_col, "cell"])


def _adc_rank(
    codes: DataFrame,
    cents: DataFrame,
    cb: DataFrame,
    qe: DataFrame,
    probes: DataFrame,
    m: int,
    dsub: int,
    k: int,
    id_col: str,
    exclude_self: bool,
) -> DataFrame:
    """Shared IVFADC scoring tail (used by :func:`ivfpq_topk` and
    :func:`ivfpq_search` — ONE copy of the reconstruction-cosine
    formula). Inputs: ``codes`` (id, cell, sub, code) — the corpus-sized
    table; ``probes`` (query_vec_id, cell); ``qe`` (query_vec_id, qv,
    qn). Builds the broadcast-sized LUTs (ccw: n_cells·m·n_codes; qlut:
    |queries|·m·n_codes; qdotc: |queries|·nprobe) and ranks by cos(q, x̂)
    as spelled out in :func:`ivfpq_topk`."""
    ccw = _codeword_lut(cents, ["cell"], "cv", cb, m, dsub, "cdotcw")
    qdotc = (
        probes.join(qe, "query_vec_id")
        .join(F.broadcast(cents), "cell")
        .select("query_vec_id", "cell", _dot("qv", "cv").alias("qc"), "qn", "cn")
    )
    qlut = _codeword_lut(qe, ["query_vec_id"], "qv", cb, m, dsub, "qpart").drop("cwn2")
    persub = (
        codes.join(F.broadcast(probes), "cell")
        .join(F.broadcast(qlut), ["query_vec_id", "sub", "code"])
        .join(F.broadcast(ccw), ["cell", "sub", "code"])
    )
    agg = persub.groupBy("query_vec_id", F.col(id_col).alias("vec_id"), "cell").agg(
        F.sum("qpart").alias("qrec"),
        F.sum("cdotcw").alias("crec"),
        F.sum("cwn2").alias("rn2"),
    )
    scored = agg.join(F.broadcast(qdotc), ["query_vec_id", "cell"])
    if exclude_self:
        scored = scored.filter(F.col("vec_id") != F.col("query_vec_id"))
    scored = scored.withColumn(
        "cos_r",
        F.round(
            (F.col("qc") + F.col("qrec"))
            / (F.col("qn") * F.sqrt(F.col("cn") * F.col("cn") + 2.0 * F.col("crec") + F.col("rn2"))),
            6,
        ),
    )
    return _rank_topk(scored, k, "vec_id")


def ivfpq_topk(
    emb: DataFrame,
    query_ids: list,
    k: int = 5,
    n_cells: int = 4,
    nprobe: int = 2,
    m: int = 4,
    n_codes: int = 16,
    n_iter: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVFADC ANN (Jégou et al. 2011 §III-C/V): coarse-quantize into
    ``n_cells`` inverted lists, PQ-encode the RESIDUAL x − c(x) with
    ``m``×``n_codes`` codebooks, and score queries against the probed
    cells' reconstructions x̂ = c + recon(codes):

        cos(q, x̂) = (q·c + Σ_sub q_sub·cw) /
                    (|q| · sqrt(|c|² + 2·Σ c_sub·cw + Σ|cw|²))

    Every c- and q-dependent term comes from broadcast-sized lookup
    tables (ccw: n_cells·m·n_codes rows; qlut: |queries|·m·n_codes), so
    the only big-data operations are one broadcast probe join over the
    code table (N·m rows, never the raw vectors) and one map-side-
    combined groupBy — the memory-bandwidth profile that makes IVFADC
    the billion-vector layout. Pass trained ``centroids`` from
    :func:`ivf_train` for a Lloyd coarse quantizer; the default is the
    md5-picked :func:`ivf_centroids` (exact data vectors → residuals
    stay exactly SQL-twinnable). Returns the family shape
    (query_vec_id, vec_id, cos_r, rank)."""
    dsub = _pq_dims(emb, m, vec_col)
    cents = _coarse_model(emb, centroids, n_cells, id_col, vec_col)
    # NOT persisted: callers hold the returned lazy frame, so an eager
    # cache here would leak for the session lifetime (the persisted
    # serving path is ivfpq_build/ivfpq_search); the residual lineage is
    # a narrow map + broadcast join, cheap to recompute
    resid = ivfpq_residuals(emb, cents, id_col, vec_col)
    cb, codes = _residual_pq(resid, m, n_codes, n_iter, id_col)
    qvecs = emb.filter(F.col(id_col).isin(query_ids))
    qe = _as_queries(_vectors(qvecs, id_col, vec_col), id_col)
    probes = ivf_assign(
        qvecs, id_col=id_col, vec_col=vec_col, nprobe=max(1, nprobe), centroids=cents
    ).select(F.col(id_col).alias("query_vec_id"), "cell")
    return _adc_rank(codes, cents, cb, qe, probes, m, dsub, k, id_col, exclude_self=True)


def ivfpq_build(
    emb: DataFrame,
    path: str,
    n_cells: int = 4,
    m: int = 4,
    n_codes: int = 16,
    n_iter: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> dict:
    """Persist an IVFADC index: encode once, query many. Layout:

    - ``{path}/centroids``  — (cell, cv, cn): n_cells rows (broadcast).
    - ``{path}/codebooks``  — (sub, code, cw): m·n_codes rows (broadcast).
    - ``{path}/codes``      — (id, cell, sub, code): the ONLY corpus-sized
      table, m small rows per vector (8·m bits of payload each vs 32·d
      for raw floats), written partitioned by ``cell`` so a probe scan
      reads just nprobe/n_cells of the data (partition pruning).

    At 100 TB of raw vectors the codes table is the on-disk working set
    (~64× smaller at d=64/m=4) and queries never touch the raw corpus.
    Returns the params dict (also written to ``{path}/meta.json``-style
    parquet for self-description)."""
    cents = _coarse_model(emb, centroids, n_cells, id_col, vec_col)
    cents.write.mode("overwrite").parquet(f"{path}/centroids")
    resid = ivfpq_residuals(emb, cents, id_col, vec_col).persist()
    try:
        cb, codes = _residual_pq(resid, m, n_codes, n_iter, id_col)
        cb.write.mode("overwrite").parquet(f"{path}/codebooks")
        codes.write.mode("overwrite").partitionBy("cell").parquet(f"{path}/codes")
    finally:
        resid.unpersist()
    meta = {"n_cells": n_cells, "m": m, "n_codes": n_codes, "id_col": id_col}
    emb.sparkSession.createDataFrame([meta]).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")
    return meta


def ivfpq_search(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Query a persisted IVFADC index (:func:`ivfpq_build`) with a frame
    of raw query vectors (id_col, vec_col). Queries probe their
    ``nprobe`` nearest cells through :func:`ivf_assign` (the probe
    :func:`ivfpq_topk` uses), which filters the codes scan to the
    queries' cells BEFORE the read (partition pruning on the ``cell``
    directory key), then scores through the same broadcast LUTs as
    :func:`ivfpq_topk`. Self-matches are kept: external queries are not
    corpus rows (callers with in-corpus queries filter afterwards)."""
    meta = spark.read.parquet(f"{path}/meta").first().asDict()
    m = int(meta["m"])
    cents = _materialize_small(spark.read.parquet(f"{path}/centroids"))
    cb = _materialize_small(spark.read.parquet(f"{path}/codebooks"))
    codes = spark.read.parquet(f"{path}/codes")
    dsub = _pq_dims(queries, m, vec_col)

    qe = _as_queries(_vectors(queries, id_col, vec_col), id_col)
    # materialize the query-sized probe set ONCE: probe_cells derives
    # locally (no extra job) and the three downstream uses don't re-run
    # the queries×centroids assignment
    probes = _materialize_small(
        ivf_assign(queries, id_col=id_col, vec_col=vec_col, nprobe=nprobe, centroids=cents)
        .select(F.col(id_col).alias("query_vec_id"), "cell")
    )
    probe_cells = sorted({r.cell for r in probes.collect()})
    codes = codes.filter(F.col("cell").isin(probe_cells))  # partition pruning
    codes = codes.select(F.col(meta["id_col"]), "sub", "code", "cell")
    return _adc_rank(codes, cents, cb, qe, probes, m, dsub, k, meta["id_col"], exclude_self=False)
