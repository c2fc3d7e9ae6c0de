"""Similarity search over embedding columns (``array<float>``).

Every approximate stack runs on integer-quantized vectors
(``floor(v*1000 + 0.5)``), so each one has a bit-exact SQL mirror:

* ``cosine_topk``: brute-force exact top-k — broadcast the (small) query set,
  native ``zip_with``/``aggregate`` dot products (JVM codegen, no Python),
  windowed rank.  The correctness baseline.
* ``lsh_topk``: sign-LSH buckets over md5-derived ±1 planes (one Arrow
  matmul per batch) → candidates share ≥1 band bucket → exact re-rank
  within candidates.  The self-join is on short band keys instead of a
  full cross join.
* ``ivf_topk``: inverted-file ANN (IVF-flat) — one deterministic integer
  coarse cell per corpus vector (``det_coarse_centroids``), ``nprobe``
  cells per query, exact cosine re-rank inside the probed cells.
* ``pq_codebooks`` / ``with_pq_codes`` / ``pq_topk``: exhaustive product
  quantization (Jégou et al. 2011) — m-byte codes instead of raw vectors,
  asymmetric distance (ADC) top-k over a broadcast query table.
* ``ivf_pq_residual_topk``: IVFADC — IVF cells on the same integer coarse
  quantizer plus PQ codes of the residuals (Jégou et al. 2011 §IV); the
  committed index layout of ``annstore`` and ``jobs/ann_index_job.py``.
* ``cosine_dup_pairs`` / ``semantic_dedup``: embedding near-dup pairs.
* ``with_unit_quant`` / ``retrieval_recall``: bit-exact retrieval evaluation.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    query_id: str = "qid",
    corpus_id: str = "vec_id",
    q_vec: str = "embedding",
    c_vec: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """(query_id, corpus_id, rank): exact cosine top-k, ties → smaller id."""
    q = queries.select(F.col(query_id).alias("_qid"), F.col(q_vec).alias("_qv"))
    c = corpus.select(F.col(corpus_id), F.col(c_vec).alias("_cv"))
    joined = F.broadcast(q).crossJoin(c)
    if exclude_self:
        joined = joined.filter(F.col("_qid") != F.col(corpus_id))
    sim = F.round(cosine(F.col("_qv"), F.col("_cv")), 6)
    win = Window.partitionBy("_qid").orderBy(F.desc("sim"), F.col(corpus_id).asc())
    return (
        joined.withColumn("sim", sim)
        .withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select(F.col("_qid").alias(query_id), F.col(corpus_id), "rank")
    )


#: integer quantization scale shared by every ANN kernel and its SQL mirror
PORTABLE_SCALE = 1000.0


def portable_sign_planes(dim: int, num_bits: int) -> np.ndarray:
    """±1 hyperplane matrix derived from md5 — a Rademacher projection that
    any engine can reproduce exactly (a SQL oracle inlines it as literals;
    sign(i, j) = +1 iff the first md5 hex digit of ``"lsh_i_j"`` is even).
    Combined with integer quantization of the input vectors, bucket
    assignment is bit-exact across engines: no float-summation-order risk."""
    import hashlib

    signs = np.empty((dim, num_bits), dtype=np.int64)
    for j in range(num_bits):
        for i in range(dim):
            digit = int(hashlib.md5(f"lsh_{i}_{j}".encode()).hexdigest()[0], 16)
            signs[i, j] = 1 if digit % 2 == 0 else -1
    return signs


def with_lsh_buckets(
    df: DataFrame,
    dim: int,
    num_bits: int = 16,
    bands: int = 4,
    vec_col: str = "embedding",
    keep_bands_array: bool = False,
) -> DataFrame:
    """Add ``bucket_0..bucket_{bands-1}`` sign-LSH band keys — one Arrow
    matmul + one reshape-matmul per batch (fully vectorized; no per-row
    Python).

    The planes are the md5-derived ±1 planes of ``portable_sign_planes``
    over integer-quantized vectors (``floor(v*1000 + 0.5)``), so a SQL
    oracle mirrors bucket assignment exactly: every projection is a sum of
    ≤2^26-magnitude integers, exact in IEEE double regardless of summation
    order.

    ``keep_bands_array=True`` returns the raw ``_bands`` array column
    instead of the per-band ``bucket_b`` columns — the input to the
    explode-once blocking shape (one kernel pass + one posexplode + ONE
    join on (band index, key), vs a union of per-band joins that re-scans
    and re-hashes the corpus once per band).
    """
    if num_bits % bands:
        raise ValueError("num_bits must be divisible by bands")
    bits_per_band = num_bits // bands
    planes = portable_sign_planes(dim, num_bits).astype(np.float64)
    weights = (1 << np.arange(bits_per_band)).astype(np.int64)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def band_keys(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy()).astype(np.float64)  # (n, dim)
        mat = np.floor(mat * PORTABLE_SCALE + 0.5)
        signs = (mat @ planes) > 0  # (n, num_bits)
        keys = signs.reshape(-1, bands, bits_per_band).astype(np.int64) @ weights
        return pd.Series(keys.astype(np.int32).tolist())

    # asNondeterministic: bucket values become equi-join keys — Catalyst's
    # inserted isnotnull(key) filter would otherwise re-run the hashing
    # matmul a second time per side (the with_ivf_cells disease)
    out = df.withColumn("_bands", band_keys.asNondeterministic()(F.col(vec_col)))
    if keep_bands_array:
        return out
    for b in range(bands):
        out = out.withColumn(f"bucket_{b}", F.element_at("_bands", b + 1))
    return out.drop("_bands")


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    dim: int,
    query_id: str = "qid",
    corpus_id: str = "vec_id",
    q_vec: str = "embedding",
    c_vec: str = "embedding",
    num_bits: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Approximate cosine top-k: candidates share ≥1 LSH band bucket, then
    exact re-rank.  Recall grows with bands; verify against cosine_topk.
    Bucketing is integer-exact (see with_lsh_buckets), so a SQL oracle
    mirrors the whole pipeline.

    Blocking is explode-once: each side hashes ONCE, posexplodes its band
    keys, and candidates come from a single equi-join on (band index,
    key).  The earlier union-of-per-band-joins shape re-scanned and
    re-hashed the corpus once per band (measured 32 Arrow kernel nodes at
    bands=8 vs 2 now)."""
    qb = with_lsh_buckets(
        queries.select(F.col(query_id).alias("_qid"), F.col(q_vec).alias("_qv")),
        dim, num_bits, bands, "_qv", keep_bands_array=True,
    )
    cb = with_lsh_buckets(
        corpus.select(F.col(corpus_id), F.col(c_vec).alias("_cv")),
        dim, num_bits, bands, "_cv", keep_bands_array=True,
    )
    qe = qb.select("_qid", "_qv", F.posexplode("_bands").alias("_bi", "_bk"))
    ce = cb.select(F.col(corpus_id), "_cv", F.posexplode("_bands").alias("_bi", "_bk"))
    cands = (
        F.broadcast(qe)
        .join(ce, ["_bi", "_bk"])
        .drop("_bi", "_bk")
        .dropDuplicates(["_qid", corpus_id])
        .filter(F.col("_qid") != F.col(corpus_id))
    )
    sim = F.round(cosine(F.col("_qv"), F.col("_cv")), 6)
    win = Window.partitionBy("_qid").orderBy(F.desc("sim"), F.col(corpus_id).asc())
    return (
        cands.withColumn("sim", sim)
        .withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select(F.col("_qid").alias(query_id), F.col(corpus_id), "rank")
    )


def det_coarse_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """The coarse quantizer of every IVF stack here: the quantized
    (``floor(v*1000+0.5)``) vectors of the first ``n_centroids`` corpus
    rows in id order — positional like ``pq_codebooks``, no RNG, no
    k-means, so a SQL oracle reproduces cell assignment bit-for-bit and
    the PRUNED (nprobe < n_centroids) regime is value-gateable.  (A
    Lloyd-trained quantizer plugs into the same encode/probe paths —
    quantize its centroids with the same floor rule — at the cost of the
    oracle.)  Returns int64 (n_centroids, dim)."""
    rows = corpus.select(id_col, vec_col).orderBy(id_col).limit(n_centroids).collect()
    if len(rows) < n_centroids:
        raise ValueError(f"corpus must have >= {n_centroids} vectors")
    x = np.asarray([r[1] for r in rows], dtype=np.float64)
    return np.floor(x * PORTABLE_SCALE + 0.5).astype(np.int64)


def _int_cell_dists(q: np.ndarray, cents_q: np.ndarray) -> np.ndarray:
    """(n, C) exact int64 squared L2 distances of quantized rows to the
    integer coarse centroids — one integer matmul (|v| ≤ ~2·10³ quantized,
    dim ≤ 10³ ⇒ every term ≪ 2⁶³, exact in int64)."""
    return (
        (q * q).sum(axis=1, keepdims=True)
        - 2 * (q @ cents_q.T)
        + (cents_q * cents_q).sum(axis=1)[None, :]
    )


def _nearest_cells(q: np.ndarray, cents_q: np.ndarray, nprobe: int) -> np.ndarray:
    """(n, nprobe) nearest integer cells in (distance, cell id) order — the
    stable sort is the SQL mirror's ``ORDER BY d, cid``."""
    return np.argsort(_int_cell_dists(q, cents_q), axis=1, kind="stable")[:, :nprobe]


def with_ivf_cells(
    df: DataFrame,
    cents_q: np.ndarray,
    nprobe: int = 1,
    vec_col: str = "embedding",
    out_col: str = "_cells",
) -> DataFrame:
    """Add the ``nprobe`` nearest integer coarse cells (exact squared L2
    over ``floor(v*1000+0.5)`` vectors, ties → smaller cell id) as an
    array column — one integer matmul + stable sort per Arrow batch, no
    per-row Python."""
    cq = cents_q

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def cells(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy()).astype(np.float64)
        q = np.floor(mat * PORTABLE_SCALE + 0.5).astype(np.int64)
        top = _nearest_cells(q, cq, nprobe)
        # rows of the int32 matrix go to Arrow as-is — no per-element loop
        return pd.Series(list(top.astype(np.int32)))

    # asNondeterministic: the cell id becomes an equi-join key downstream,
    # and Catalyst's inserted isnotnull(key) filter otherwise re-evaluates
    # the whole quantizer matmul a SECOND time per side (measured: 4 Arrow
    # nodes instead of 2 in ivf_topk).  The kernel IS deterministic; the
    # flag only forbids Catalyst from duplicating it.
    return df.withColumn(out_col, cells.asNondeterministic()(F.col(vec_col)))


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    query_id: str = "qid",
    corpus_id: str = "vec_id",
    q_vec: str = "embedding",
    c_vec: str = "embedding",
    n_centroids: int = 16,
    nprobe: int = 2,
) -> DataFrame:
    """Approximate cosine top-k via an IVF-flat index: corpus vectors live
    in exactly one integer coarse cell (``det_coarse_centroids``), queries
    probe their ``nprobe`` nearest cells, exact cosine re-rank inside.
    Candidate volume ≈ |corpus| · nprobe / n_centroids per query (tunable
    recall/cost), versus the O(|Q|·|P|) brute-force cross join.  Cell
    assignment is integer-exact, so the pruned regime has a SQL mirror."""
    cents_q = det_coarse_centroids(corpus, n_centroids, corpus_id, c_vec)
    cb = with_ivf_cells(
        corpus.select(F.col(corpus_id), F.col(c_vec).alias("_cv")),
        cents_q, 1, "_cv",
    ).select(corpus_id, "_cv", F.element_at("_cells", 1).alias("_cell"))
    qb = with_ivf_cells(
        queries.select(F.col(query_id).alias("_qid"), F.col(q_vec).alias("_qv")),
        cents_q, nprobe, "_qv",
    ).select("_qid", "_qv", F.explode("_cells").alias("_cell"))
    cands = (
        F.broadcast(qb)
        .join(cb, "_cell")
        .drop("_cell")
        .filter(F.col("_qid") != F.col(corpus_id))
        .dropDuplicates(["_qid", corpus_id])
    )
    sim = F.round(cosine(F.col("_qv"), F.col("_cv")), 6)
    win = Window.partitionBy("_qid").orderBy(F.desc("sim"), F.col(corpus_id).asc())
    return (
        cands.withColumn("sim", sim)
        .withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select(F.col("_qid").alias(query_id), F.col(corpus_id), "rank")
    )


def int_centroids_from_rows(df: DataFrame) -> np.ndarray:
    """Rebuild the integer coarse quantizer from its committed table form
    (``cell int, centroid array<long>`` — the ``centroids`` stage of
    jobs/ann_index_job.py).  Index/update/probe jobs all read the SAME
    frozen quantizer through this instead of recomputing it."""
    rows = sorted((r["cell"], r["centroid"]) for r in df.collect())
    return np.asarray([v for _, v in rows], dtype=np.int64)


def codebooks_from_rows(df: DataFrame) -> np.ndarray:
    """Rebuild the PQ codebook tensor (m, k, sub) from its committed table
    form (``j int, c int, cent array<long>`` — the ``codebooks`` stage)."""
    rows = df.collect()
    m = 1 + max(r["j"] for r in rows)
    k = 1 + max(r["c"] for r in rows)
    sub = len(rows[0]["cent"])
    books = np.empty((m, k, sub), dtype=np.int64)
    for r in rows:
        books[r["j"], r["c"]] = r["cent"]
    return books


def pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Deterministic product-quantization codebooks (Jégou et al., PQ for
    nearest-neighbor search, TPAMI 2011): subspace ``j``'s ``k`` centroids
    are the INTEGER-QUANTIZED (``floor(v*1000+0.5)``, the portable-LSH
    discipline) j-th subvectors of corpus vectors ``j*k .. (j+1)*k - 1`` —
    id-derived, no RNG, no k-means, so a SQL oracle reproduces them
    bit-exactly and every PQ distance downstream is integer-exact across
    engines.  (A Lloyd-refined codebook plugs into the same encode/ADC
    path at the cost of the value oracle.)  Returns int64 (m, k, dim//m)."""
    rows = corpus.select(id_col, vec_col).orderBy(id_col).limit(m * k).collect()
    if len(rows) < m * k:
        raise ValueError(f"corpus must have >= {m * k} vectors")
    x = np.asarray([r[1] for r in rows], dtype=np.float64)
    q = np.floor(x * PORTABLE_SCALE + 0.5).astype(np.int64)
    dim = q.shape[1]
    if dim % m:
        raise ValueError("dim must be divisible by m")
    sub = dim // m
    books = np.empty((m, k, sub), dtype=np.int64)
    for j in range(m):
        books[j] = q[j * k : (j + 1) * k, j * sub : (j + 1) * sub]
    return books


def _pq_sub_dists(q: np.ndarray, books: np.ndarray, j: int) -> np.ndarray:
    """(n, k) int64 squared distances of every row's j-th quantized
    subvector to subspace j's centroids — one integer matmul, exact."""
    m, k, sub = books.shape
    s = q[:, j * sub : (j + 1) * sub]
    bj = books[j]
    return (
        (s * s).sum(axis=1, keepdims=True)
        - 2 * (s @ bj.T)
        + (bj * bj).sum(axis=1)[None, :]
    )


#: rows per numpy chunk inside the PQ kernels — keeps the (chunk, k)
#: distance temporaries ~256 KB (the multi-worker mmap/TLB discipline)
_PQ_CHUNK = 2048


def with_pq_codes(
    df: DataFrame,
    books: np.ndarray,
    vec_col: str = "embedding",
    out_col: str = "codes",
) -> DataFrame:
    """Encode every vector to its PQ code array (m small ints): per
    subspace, argmin squared distance over the k centroids with
    deterministic smallest-id tie-break (np.argmin returns the FIRST
    minimum — lowest centroid id).  One integer matmul per subspace per
    Arrow batch (the ``with_lsh_buckets`` discipline — a native
    k·m-aggregate expression tree was measured 34 µs/row interpreted; the
    matmul is ~100x less), chunked so temporaries stay cache-sized.
    At 10^12 rows this is the compression pass: m bytes/vector instead of
    4·dim (64-dim float32 → 8 codes = 32x), and downstream ANN scans touch
    codes, never raw vectors."""
    m, k, sub = books.shape
    bks = books  # closure snapshot

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def codes_udf(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy()).astype(np.float64)
        q = np.floor(mat * PORTABLE_SCALE + 0.5).astype(np.int64)
        out = np.empty((len(q), m), dtype=np.int32)
        for lo in range(0, len(q), _PQ_CHUNK):
            chunk = q[lo : lo + _PQ_CHUNK]
            for j in range(m):
                out[lo : lo + _PQ_CHUNK, j] = np.argmin(
                    _pq_sub_dists(chunk, bks, j), axis=1
                )
        return pd.Series(out.tolist())

    return df.withColumn(out_col, codes_udf(F.col(vec_col)))


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    books: np.ndarray,
    k: int = 3,
    query_id: str = "qid",
    corpus_id: str = "vec_id",
    q_vec: str = "embedding",
    c_vec: str = "embedding",
) -> DataFrame:
    """PQ asymmetric-distance top-k (ADC): each query precomputes an m×k
    table of exact squared distances to every centroid, a candidate's
    approximate distance is m table lookups on its code — no raw corpus
    vector is ever read after encoding.  The exhaustive PQ path: the
    corpus-side scan is over m-byte codes (compression ∝ 4·dim/m),
    per-candidate cost is m integer adds; at cluster scale the probe
    composes with IVF cells over residual codes (``ivf_pq_residual_topk``).
    The per-query m×k table
    is one integer matmul per subspace (Arrow kernel) and rides a
    localCheckpoint barrier — inlined, Catalyst's projection collapse
    would re-evaluate the table kernel once per CANDIDATE instead of once
    per query (the CLAUDE.md element_at trap); the ADC sum itself is m
    native element_at lookups, JVM-side.

    Integer-exact end to end (deterministic codebooks + quantized inputs),
    so a DuckDB oracle mirrors encode, table, ADC sums, and ranking
    bit-for-bit.  Ties → smaller corpus id.  Returns (query_id, corpus_id,
    rank)."""
    cb = with_pq_codes(
        corpus.select(F.col(corpus_id), F.col(c_vec).alias("_cv")), books, "_cv"
    ).select(corpus_id, "codes")
    qd = pq_query_tables(queries, books, query_id, q_vec)
    cands = F.broadcast(qd).crossJoin(cb)
    return _adc_topk(cands, books.shape[0], k, query_id, corpus_id)


def pq_query_tables(
    queries: DataFrame,
    books: np.ndarray,
    query_id: str = "qid",
    q_vec: str = "embedding",
) -> DataFrame:
    """(_qid, _tab): per-query m×k ADC distance table — one integer matmul
    per subspace per Arrow batch, pinned by localCheckpoint so the kernel
    runs once per query, never once per candidate (projection collapse)."""
    m = books.shape[0]
    bks = books

    @F.pandas_udf(T.ArrayType(T.ArrayType(T.LongType())))
    def table_udf(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy()).astype(np.float64)
        q = np.floor(mat * PORTABLE_SCALE + 0.5).astype(np.int64)
        tabs = np.stack([_pq_sub_dists(q, bks, j) for j in range(m)], axis=1)
        return pd.Series(tabs.tolist())  # (n, m, k)

    return (
        queries.select(F.col(query_id).alias("_qid"), F.col(q_vec).alias("_qv"))
        .select("_qid", table_udf(F.col("_qv")).alias("_tab"))
        .localCheckpoint(eager=False)
    )


def _adc_topk(cands: DataFrame, m: int, k: int, query_id: str, corpus_id: str) -> DataFrame:
    """ADC distance (m native element_at lookups) + (distance, id) rank
    over candidate rows carrying (_qid, _tab, codes, corpus_id)."""
    dist = None
    for j in range(m):
        term = F.element_at(
            F.element_at(F.col("_tab"), j + 1), F.element_at("codes", j + 1) + 1
        )
        dist = term if dist is None else dist + term
    win = Window.partitionBy("_qid").orderBy(F.asc("_dist"), F.col(corpus_id).asc())
    return (
        cands.filter(F.col("_qid") != F.col(corpus_id))
        .withColumn("_dist", dist)
        .withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select(F.col("_qid").alias(query_id), F.col(corpus_id), "rank")
    )


def pq_residual_codebooks(
    corpus: DataFrame,
    cents_q: np.ndarray,
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Residual PQ codebooks (the IVFADC refinement, Jégou et al. 2011
    §IV): subspace ``j``'s ``k`` centroids are the j-th subvectors of the
    RESIDUALS ``quantize(x) − coarse_centroid(cell(x))`` of the first
    ``m·k`` corpus rows in id order.  Residuals concentrate around 0 once
    the coarse term is subtracted, so the same code budget quantizes a
    much smaller-variance signal — this is why IVFADC beats raw-vector
    codes at nprobe < n_centroids.  Integer end to end (quantized inputs,
    integer centroids), positional row selection — SQL-mirrorable.
    Returns int64 (m, k, dim//m)."""
    rows = corpus.select(id_col, vec_col).orderBy(id_col).limit(m * k).collect()
    if len(rows) < m * k:
        raise ValueError(f"corpus must have >= {m * k} vectors")
    x = np.asarray([r[1] for r in rows], dtype=np.float64)
    q = np.floor(x * PORTABLE_SCALE + 0.5).astype(np.int64)
    dim = q.shape[1]
    if dim % m:
        raise ValueError("dim must be divisible by m")
    # stable argmin == (distance, cell-id) tie order, same as the SQL mirror
    cell = np.argmin(_int_cell_dists(q, cents_q), axis=1)
    r = q - cents_q[cell]
    sub = dim // m
    books = np.empty((m, k, sub), dtype=np.int64)
    for j in range(m):
        books[j] = r[j * k : (j + 1) * k, j * sub : (j + 1) * sub]
    return books


def with_ivf_pq_residual(
    df: DataFrame,
    books: np.ndarray,
    cents_q: np.ndarray,
    vec_col: str = "embedding",
) -> DataFrame:
    """Index-side IVFADC encode in ONE Arrow pass: assign the nearest
    integer coarse cell (ties → smaller cell id, matching the SQL
    ``row_number`` order) and PQ-encode the RESIDUAL against ``books``.
    Adds ``_cell`` (int) and ``codes`` (array<int>); the raw vector never
    leaves the kernel — downstream scans touch m-byte codes only."""
    m, k, sub = books.shape
    bks, cq = books, cents_q

    @F.pandas_udf(
        T.StructType(
            [
                T.StructField("cell", T.IntegerType()),
                T.StructField("codes", T.ArrayType(T.IntegerType())),
            ]
        )
    )
    def encode_udf(vecs: pd.Series) -> pd.DataFrame:
        mat = np.stack(vecs.to_numpy()).astype(np.float64)
        q = np.floor(mat * PORTABLE_SCALE + 0.5).astype(np.int64)
        cells = np.empty(len(q), dtype=np.int32)
        codes = np.empty((len(q), m), dtype=np.int32)
        for lo in range(0, len(q), _PQ_CHUNK):
            chunk = q[lo : lo + _PQ_CHUNK]
            cell = np.argmin(_int_cell_dists(chunk, cq), axis=1)
            cells[lo : lo + _PQ_CHUNK] = cell
            r = chunk - cq[cell]
            for j in range(m):
                codes[lo : lo + _PQ_CHUNK, j] = np.argmin(
                    _pq_sub_dists(r, bks, j), axis=1
                )
        return pd.DataFrame({"cell": cells, "codes": list(codes)})

    # asNondeterministic: _cell becomes the probe equi-join key — without
    # the flag Catalyst's isnotnull(key) filter re-runs the whole encode
    # kernel a second time over the corpus (same disease as with_ivf_cells)
    enc = df.withColumn("_enc", encode_udf.asNondeterministic()(F.col(vec_col)))
    return enc.select(
        *[c for c in df.columns if c != vec_col],
        F.col("_enc.cell").alias("_cell"),
        F.col("_enc.codes").alias("codes"),
    )


def pq_residual_query_tables(
    queries: DataFrame,
    books: np.ndarray,
    cents_q: np.ndarray,
    nprobe: int,
    query_id: str = "qid",
    q_vec: str = "embedding",
) -> DataFrame:
    """Query-side IVFADC probe prep: one row per (query, probed cell) with
    the m×k ADC table of the query's RESIDUAL against that cell — the
    per-cell table is what makes residual ADC asymmetric-exact on the
    coarse term.  Probed cells = nprobe nearest integer cells, ties →
    smaller cell id.  Pinned by localCheckpoint (projection-collapse
    barrier, the pq_query_tables discipline)."""
    m, k, sub = books.shape
    bks, cq = books, cents_q

    @F.pandas_udf(
        T.ArrayType(
            T.StructType(
                [
                    T.StructField("cell", T.IntegerType()),
                    T.StructField("tab", T.ArrayType(T.ArrayType(T.LongType()))),
                ]
            )
        )
    )
    def tables_udf(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy()).astype(np.float64)
        q = np.floor(mat * PORTABLE_SCALE + 0.5).astype(np.int64)
        order = _nearest_cells(q, cq, nprobe)
        out = []
        for i in range(len(q)):
            per_cell = []
            for cell in order[i]:
                r = (q[i] - cq[cell])[None, :]
                tab = np.stack([_pq_sub_dists(r, bks, j)[0] for j in range(m)])
                per_cell.append({"cell": int(cell), "tab": tab.tolist()})
            out.append(per_cell)
        return pd.Series(out)

    return (
        queries.select(F.col(query_id).alias("_qid"), F.col(q_vec).alias("_qv"))
        .select("_qid", F.explode(tables_udf(F.col("_qv"))).alias("_pc"))
        .select("_qid", F.col("_pc.cell").alias("_cell"), F.col("_pc.tab").alias("_tab"))
        .localCheckpoint(eager=False)
    )


def ivf_pq_residual_topk(
    queries: DataFrame,
    corpus: DataFrame,
    m: int = 8,
    k_cb: int = 16,
    n_centroids: int = 16,
    nprobe: int = 4,
    k: int = 3,
    query_id: str = "qid",
    corpus_id: str = "vec_id",
    q_vec: str = "embedding",
    c_vec: str = "embedding",
) -> DataFrame:
    """IVFADC with RESIDUAL encoding (Jégou et al. 2011 §IV — the canonical
    FAISS IVF-PQ shape): corpus vectors carry (cell, residual PQ code);
    queries probe ``nprobe`` cells, each probe using the ADC table of the
    query's residual vs THAT cell, rank by table-lookup distance.
    Encoding x − centroid(cell) instead of x lets the same m-byte code
    budget quantize the small-variance residual, so recall on clustered
    vectors beats raw-vector codes (pytest-pinned against ``pq_topk``).

    With the deterministic integer coarse quantizer
    (``det_coarse_centroids``) the ENTIRE pipeline — assignment,
    residuals, codebooks, codes, per-cell tables, ADC sums, ranking — is
    integer arithmetic both engines compute bit-identically, so the PRUNED
    regime itself has a full DuckDB value oracle (sql_ivf_pq_residual_topk),
    not just the full-probe degenerate case.  Scale shape: candidate
    volume ∝ nprobe/n_centroids, scan touches codes only, per-query work =
    nprobe small matmuls.  Returns (query_id, corpus_id, rank)."""
    cents_q = det_coarse_centroids(corpus, n_centroids, corpus_id, c_vec)
    books = pq_residual_codebooks(corpus, cents_q, m, k_cb, corpus_id, c_vec)
    index = with_ivf_pq_residual(
        corpus.select(F.col(corpus_id), F.col(c_vec).alias("_cv")), books, cents_q, "_cv"
    )
    return ivf_pq_residual_probe(
        queries, index, books, cents_q, k, nprobe, query_id, corpus_id, q_vec
    )


def ivf_pq_residual_probe(
    queries: DataFrame,
    index: DataFrame,
    books: np.ndarray,
    cents_q: np.ndarray,
    k: int = 3,
    nprobe: int = 4,
    query_id: str = "qid",
    corpus_id: str = "vec_id",
    q_vec: str = "embedding",
) -> DataFrame:
    """Probe a PREBUILT residual IVFADC index (columns ``corpus_id, _cell,
    codes`` — e.g. the committed output of ``jobs/ann_index_job.py``,
    plus any ``annstore`` deltas): per probed cell the query carries the
    ADC table of ITS residual vs that cell, so the join on the cell key
    delivers table/candidate pairs that are residual-consistent by
    construction.  The serve-side half of the pipeline — the index is
    built once, probes touch only matching cell partitions.  No dedup
    needed: each corpus vector lives in exactly one cell and a query's
    probe list is distinct, so a pair joins at most once."""
    qd = pq_residual_query_tables(queries, books, cents_q, nprobe, query_id, q_vec)
    cands = F.broadcast(qd).join(index, "_cell").drop("_cell")
    return _adc_topk(cands, books.shape[0], k, query_id, corpus_id)


def cosine_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    num_bits: int = 16,
    bands: int = 8,
    exact: bool = False,
) -> DataFrame:
    """Embedding near-duplicate pairs (id_a < id_b, sim ≥ τ).

    ``exact=True`` does the full O(n²) self-join (oracle path / small n);
    otherwise LSH-blocked candidates re-ranked exactly.
    """
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    if exact:
        b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
        pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    else:
        # explode-once blocking (see lsh_topk): hash once, ONE self-join on
        # (band index, key) — not a union of per-band joins re-hashing the
        # corpus once per band
        ab = with_lsh_buckets(
            df.select(F.col(id_col), F.col(vec_col)),
            dim, num_bits, bands, vec_col, keep_bands_array=True,
        )
        left = ab.select(
            F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"),
            F.posexplode("_bands").alias("_bi", "_bk"),
        )
        right = ab.select(
            F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"),
            F.posexplode("_bands").alias("_bi", "_bk"),
        )
        pairs = (
            left.join(right, ["_bi", "_bk"])
            .filter(F.col("id_a") < F.col("id_b"))
            .drop("_bi", "_bk")
            .dropDuplicates(["id_a", "id_b"])
        )
    sim = F.round(cosine(F.col("_va"), F.col("_vb")), 6)
    return (
        pairs.withColumn("sim", sim)
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.95,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): embedding-space near-duplicate pairs
    found by clustering the corpus and comparing ONLY within a cluster —
    the candidate set is Θ(Σ cell²) instead of Θ(corpus²), and at scale
    ``n_centroids`` grows ∝ corpus (SemDeDup uses ~10⁵ clusters at 10⁸
    docs) so mean cell size — and per-cell quadratic work — stays constant.

    Integer-exact end to end so a SQL oracle reproduces every pair:
    vectors quantize via ``floor(v·1000 + 0.5)``, cells come from the
    deterministic integer coarse quantizer (``det_coarse_centroids``, ties
    → smaller cell id), and ``cos ≥ threshold`` is decided WITHOUT floats:
    with t = round(threshold·1000),   cos ≥ t/1000
      ⟺  qdot > 0  AND  qdot²·10⁶ ≥ t²·‖a‖²·‖b‖²   (exact integers; the
    final products exceed int64 so both sides compare as DECIMAL /
    HUGEINT — never surfaced in the output schema).

    Plan: one Arrow encode pass (quantize + cell + norm), localCheckpoint
    (self-joins re-run kernels once PER SIDE otherwise — the minhash
    discipline; at cluster scale, persist the encoded table instead, e.g.
    via the annstore layout), then ONE equi-join on the cell key.
    Returns (keep_id, dup_id, cell, qdot) with keep_id < dup_id."""
    cents_q = det_coarse_centroids(corpus, n_centroids, id_col, vec_col)
    cq = cents_q

    @F.pandas_udf(
        T.StructType(
            [
                T.StructField("cell", T.IntegerType()),
                T.StructField("qv", T.ArrayType(T.LongType())),
                T.StructField("n2", T.LongType()),
            ]
        )
    )
    def enc_udf(vecs: pd.Series) -> pd.DataFrame:
        mat = np.stack(vecs.to_numpy()).astype(np.float64)
        q = np.floor(mat * PORTABLE_SCALE + 0.5).astype(np.int64)
        cells = np.empty(len(q), dtype=np.int32)
        for lo in range(0, len(q), _PQ_CHUNK):
            chunk = q[lo : lo + _PQ_CHUNK]
            cells[lo : lo + _PQ_CHUNK] = np.argmin(_int_cell_dists(chunk, cq), axis=1)
        return pd.DataFrame({"cell": cells, "qv": list(q), "n2": (q * q).sum(axis=1)})

    # asNondeterministic: _cell is the self-join key (the isnotnull
    # re-evaluation disease, see with_ivf_cells)
    enc = (
        corpus.select(F.col(id_col), F.col(vec_col).alias("_v"))
        .withColumn("_e", enc_udf.asNondeterministic()(F.col("_v")))
        .select(
            F.col(id_col),
            F.col("_e.cell").alias("_cell"),
            F.col("_e.qv").alias("_qv"),
            F.col("_e.n2").alias("_n2"),
        )
        .localCheckpoint()
    )
    a = enc.select(
        F.col(id_col).alias("keep_id"), F.col("_cell"),
        F.col("_qv").alias("_qa"), F.col("_n2").alias("_na"),
    )
    b = enc.select(
        F.col(id_col).alias("dup_id"), F.col("_cell"),
        F.col("_qv").alias("_qb"), F.col("_n2").alias("_nb"),
    )
    t = int(round(threshold * 1000))
    qdot_expr = F.aggregate(
        F.zip_with(F.col("_qa"), F.col("_qb"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    # explode(array(struct(qdot))) is a GENERATE BARRIER: a filter that
    # references a generator output cannot be pushed below the Generate,
    # so the 64-wide dot product is evaluated exactly ONCE per pair.
    # Filtering on a plain aliased column instead lets PushPredicateThroughJoin
    # fold the whole cosine test into the join condition with the aggregate
    # inlined 3x + once more in the output projection — measured 2.3x slower
    # on 139k pairs (1.08 s vs 0.47 s), with plan.count("zip_with") == 4 vs 1.
    pairs = (
        a.join(b, "_cell")
        .filter(F.col("keep_id") < F.col("dup_id"))
        .select(
            "keep_id", "dup_id", F.col("_cell"), "_na", "_nb",
            F.explode(F.array(F.struct(qdot_expr.alias("qdot")))).alias("_q"),
        )
    )
    qdot = F.col("_q.qdot")
    lhs = (qdot * qdot).cast("decimal(22,0)") * F.lit(1000000)
    rhs = (F.col("_na") * F.col("_nb")).cast("decimal(22,0)") * F.lit(t * t)
    return (
        pairs.filter((qdot > 0) & (lhs >= rhs))
        .select("keep_id", "dup_id", F.col("_cell").alias("cell"), qdot.alias("qdot"))
    )


UNIT_QUANT_SCALE = 100000.0


def with_unit_quant(
    df: DataFrame, vec_col: str = "embedding", out_col: str = "uq"
) -> DataFrame:
    """Engine-portable UNIT quantization for exact cross-engine cosine
    ranking: pre-quantize ``floor(v*1000 + 0.5)`` (exact double op in any
    engine), take the squared norm in INTEGER space (sums of ints ≤ 2^53
    are exact in double regardless of summation order — the
    portable_sign_planes discipline), then renormalize each component with
    exactly one correctly-rounded division:

        u_i = floor((q_i * 100000) / sqrt(sum q^2) + 0.5)

    Every step is an IEEE-identical double op in Spark, numpy, and DuckDB,
    so the int64 output — and any dot-product ranking over it — matches a
    SQL mirror bit-for-bit with NO rounding tolerance.  Dot products of
    unit-quantized 64-dim vectors stay ≤ ~6.4e11 (exact int64 and exact in
    double).  Zero-norm vectors map to all-zero codes.  One Arrow pass, no
    higher-order-lambda nesting (the projection-collapse corruption trap
    never arises)."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def uq(vecs: pd.Series) -> pd.Series:
        out = []
        for v in vecs.to_numpy():
            a = np.asarray(v, dtype=np.float64)
            q = np.floor(a * PORTABLE_SCALE + 0.5)
            n2 = float((q * q).sum())
            if n2 == 0.0:
                out.append(np.zeros(len(a), dtype=np.int64))
                continue
            s = math.sqrt(n2)
            out.append(np.floor(q * UNIT_QUANT_SCALE / s + 0.5).astype(np.int64))
        return pd.Series(out)

    return df.withColumn(out_col, uq(F.col(vec_col)))


def retrieval_recall(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str = "qid",
    corpus_id: str = "vec_id",
    truth_col: str = "true_id",
    uq_col: str = "uq",
    k_hits: tuple = (1, 10),
) -> DataFrame:
    """Retrieval evaluation — the harness a multimodal / embedding-training
    pipeline runs to measure alignment quality: for every query vector,
    rank the WHOLE corpus by exact integer dot product over unit-quantized
    codes (== cosine ranking up to engine-identical quantization) and
    report the rank of the query's true match plus hit@k flags.  recall@k
    is then a trivial avg over the output.

    Both inputs must already carry ``with_unit_quant`` codes; scoring is
    pure native zip_with/aggregate over BOUND array columns (single
    aggregate per pair — not the PQ-style wide fan that falls out of
    codegen).  This is the documented exhaustive baseline: queries
    broadcast (an eval runs on a sample), the corpus is scanned once, and
    the only shuffle is the per-query rank window over Q x P score rows.
    At index scale, evaluate the ANN path instead by feeding
    ``ivf_pq_residual_topk`` results to the same truth join
    (``ann_ivf_recall`` shape)."""
    q = queries.select(
        F.col(query_id).alias("_qid"),
        F.col(truth_col).alias("_true"),
        F.col(uq_col).alias("_qv"),
    )
    c = corpus.select(
        F.col(corpus_id).alias("_cid"), F.col(uq_col).alias("_cv")
    )
    score = F.aggregate(
        F.zip_with("_qv", "_cv", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    ).alias("_s")
    scored = F.broadcast(q).crossJoin(c).select("_qid", "_true", "_cid", score)
    w = Window.partitionBy("_qid").orderBy(F.desc("_s"), F.asc("_cid"))
    ranked = scored.select(
        "_qid", "_true", "_cid", F.row_number().over(w).alias("_r")
    )
    out = ranked.filter(F.col("_cid") == F.col("_true")).select(
        F.col("_qid").alias(query_id),
        F.col("_true").alias(truth_col),
        F.col("_r").cast("long").alias("true_rank"),
    )
    for k in k_hits:
        out = out.withColumn(
            f"hit{k}", (F.col("true_rank") <= k).cast("int")
        )
    return out
