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
  asymmetric distance (ADC) top-k.
* ``ivf_pq_residual_topk`` / ``ivf_pq_residual_probe``: IVFADC — IVF cells
  on the same integer coarse quantizer plus PQ codes of the residuals
  (Jégou et al. 2011 §IV); the committed index layout of ``annstore`` and
  ``jobs/ann_index_job.py``.
* ``cosine_dup_pairs`` / ``semantic_dedup``: embedding near-dup pairs.
* ``with_unit_quant`` / ``retrieval_recall``: bit-exact retrieval evaluation.

Both ADC paths share one fused map-side scan (``_adc_scan``): the query
tables are built on the driver in one numpy pass (the query side must fit
there), broadcast once, and a single ``mapInArrow`` over the index codes
keeps each batch's top-k per query; only that ≤ k-row partial per query and
batch reaches the final rank.  No per-query table is joined onto candidate
rows.
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


def _quantize(mat: np.ndarray) -> np.ndarray:
    """The portable integer quantization ``floor(v*1000 + 0.5)`` as int64."""
    return np.floor(mat * PORTABLE_SCALE + 0.5).astype(np.int64)


def _first_quantized(corpus: DataFrame, n: int, id_col: str, vec_col: str) -> np.ndarray:
    """int64 (n, dim): the quantized vectors of the first ``n`` corpus rows
    in id order — the positional source of every deterministic quantizer
    and codebook here."""
    rows = corpus.select(id_col, vec_col).orderBy(id_col).limit(n).collect()
    if len(rows) < n:
        raise ValueError(f"corpus must have >= {n} vectors")
    return _quantize(np.asarray([r[1] for r in rows], dtype=np.float64))


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
    return _first_quantized(corpus, n_centroids, id_col, vec_col)


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
    return _books(_first_quantized(corpus, m * k, id_col, vec_col), m, k)


def _books(q: np.ndarray, m: int, k: int) -> np.ndarray:
    """(m, k, dim//m): subspace j's centroids are the j-th subvectors of
    rows ``j*k .. (j+1)*k - 1`` of ``q``."""
    dim = q.shape[1]
    if dim % m:
        raise ValueError("dim must be divisible by m")
    sub = dim // m
    return np.stack([q[j * k : (j + 1) * k, j * sub : (j + 1) * sub] for j in range(m)])


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

    The one-cell case of the fused ADC scan (``_adc_scan``): the query
    tables are built on the driver in one numpy pass and broadcast, and a
    single ``mapInArrow`` over the encoded corpus keeps each batch's top-k
    per query.  The query side must fit on the driver (it is collected).

    Integer-exact end to end (deterministic codebooks + quantized inputs),
    so a DuckDB oracle mirrors encode, table, ADC sums, and ranking
    bit-for-bit.  Ties → smaller corpus id.  Returns (query_id, corpus_id,
    rank)."""
    cb = with_pq_codes(
        corpus.select(F.col(corpus_id), F.col(c_vec).alias("_cv")), books, "_cv"
    ).select(corpus_id, "codes", F.lit(0).alias("_cell"))
    qids, q = _query_side(queries, books, query_id, q_vec)
    tables = {0: (np.arange(len(q)), _adc_tables(q, books))}
    return _adc_scan(cb, queries.schema[query_id].dataType, qids, tables, k, query_id, corpus_id)


def _adc_tables(q: np.ndarray, books: np.ndarray) -> np.ndarray:
    """(n, m, k) int64 ADC tables: row i's exact squared distances of its
    j-th subvector to subspace j's centroids."""
    return np.stack([_pq_sub_dists(q, books, j) for j in range(books.shape[0])], axis=1)


def _query_side(queries: DataFrame, books: np.ndarray, query_id: str, q_vec: str):
    """(ids, int64 (n, dim) quantized vectors) of the collected queries."""
    rows = queries.select(query_id, q_vec).collect()
    dim = books.shape[0] * books.shape[2]
    vecs = np.asarray([r[1] for r in rows], dtype=np.float64).reshape(len(rows), dim)
    return np.asarray([r[0] for r in rows]), _quantize(vecs)


#: elements per (rows, queries) distance temporary in the ADC scan — 128 KB
#: of int64 (the multi-worker mmap/TLB discipline)
_ADC_ELEMS = 16384

_NO_DIST = np.iinfo(np.int64).max


def _adc_scan(
    index: DataFrame,
    q_type: T.DataType,
    qids: np.ndarray,
    tables: dict,
    k: int,
    query_id: str,
    corpus_id: str,
) -> DataFrame:
    """The fused map-side ADC scan behind ``pq_topk`` and
    ``ivf_pq_residual_probe``: (query_id, corpus_id, rank) top-k by
    (ADC distance, corpus id).

    ``index`` carries ``corpus_id, codes, _cell``; ``tables`` maps a cell
    to ``(qpos, tabs)`` — the positions in ``qids`` of the queries probing
    it and their (len(qpos), m, k) tables.  The tables ride one broadcast, and one
    ``mapInArrow`` over the index computes ``D = Σ_j tab[:, j, codes[:, j]]``
    for every probed cell in the batch, drops self-pairs and keeps the
    batch's top-k per query (ties at the k-th distance kept).  The final
    ``row_number`` then ranks at most batches·k rows per query.  No
    per-query table is ever joined onto candidate rows: that join shipped
    m·k longs per candidate, where this ships the tables once per
    executor."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    slim = index.select(corpus_id, "codes", "_cell")
    # per cell, (m, k, n_q) so each subspace lookup gathers contiguous rows
    bc = index.sparkSession.sparkContext.broadcast(
        (qids, {c: (qpos, np.ascontiguousarray(t.transpose(1, 2, 0))) for c, (qpos, t) in tables.items()})
    )
    out_schema = T.StructType(
        [
            T.StructField("_qid", q_type),
            T.StructField(corpus_id, index.schema[corpus_id].dataType),
            T.StructField("_dist", T.LongType()),
        ]
    )
    arrow_schema = to_arrow_schema(out_schema)

    def scan(batches):
        all_qids, by_cell = bc.value
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            ids = batch.column(0)
            idn = ids.to_numpy(zero_copy_only=False)
            codes = batch.column(1).flatten().to_numpy().reshape(n, -1)
            cells = batch.column(2).to_numpy()
            got_q, got_d, got_r = [], [], []
            for c in np.unique(cells):
                probe = by_cell.get(int(c))
                if probe is None:
                    continue
                qpos, tabs = probe
                cq = all_qids[qpos]
                rows = np.flatnonzero(cells == c)
                step = max(64, _ADC_ELEMS // len(qpos))
                for lo in range(0, len(rows), step):
                    rr = rows[lo : lo + step]
                    cc = codes[rr]
                    d = tabs[0][cc[:, 0]]  # (rows, queries)
                    for j in range(1, len(tabs)):
                        d += tabs[j][cc[:, j]]
                    self_pair = idn[rr][:, None] == cq[None, :]
                    d[self_pair] = _NO_DIST
                    keep = ~self_pair
                    if len(rr) > k:
                        keep &= d <= np.partition(d, k - 1, axis=0)[k - 1][None, :]
                    ri, qi = np.nonzero(keep)
                    got_q.append(qpos[qi])
                    got_d.append(d[ri, qi])
                    got_r.append(rr[ri])
            if not got_q:
                continue
            qp, dist, row = (np.concatenate(a) for a in (got_q, got_d, got_r))
            # the batch's top-k per query by (distance, corpus id)
            order = np.lexsort((np.unique(idn[row], return_inverse=True)[1], dist, qp))
            qs = qp[order]
            first = np.r_[True, qs[1:] != qs[:-1]]
            start = np.maximum.accumulate(np.where(first, np.arange(len(qs)), 0))
            take = order[np.arange(len(qs)) - start < k]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(all_qids[qp[take]], type=arrow_schema.field(0).type),
                    ids.take(pa.array(row[take])),
                    pa.array(dist[take], type=pa.int64()),
                ],
                schema=arrow_schema,
            )

    win = Window.partitionBy("_qid").orderBy(F.asc("_dist"), F.col(corpus_id).asc())
    return (
        slim.mapInArrow(scan, schema=out_schema)
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
    return _residual_books(_first_quantized(corpus, m * k, id_col, vec_col), cents_q, m, k)


def _residual_books(q: np.ndarray, cents_q: np.ndarray, m: int, k: int) -> np.ndarray:
    # stable argmin == (distance, cell-id) tie order, same as the SQL mirror
    cell = np.argmin(_int_cell_dists(q, cents_q), axis=1)
    return _books(q - cents_q[cell], m, k)


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
    not just the full-probe degenerate case.  The centroids and the
    codebooks come from ONE read of the first ``max(n_centroids, m·k_cb)``
    rows.  Scale shape: one encode pass over the corpus, then the fused ADC
    scan of ``ivf_pq_residual_probe`` (the query side must fit on the
    driver).  Returns (query_id, corpus_id, rank)."""
    first = _first_quantized(corpus, max(n_centroids, m * k_cb), corpus_id, c_vec)
    cents_q = first[:n_centroids]
    books = _residual_books(first[: m * k_cb], cents_q, m, k_cb)
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
    plus any ``annstore`` deltas).  The serve-side half of the pipeline:
    the index is built once, probes touch only the probed cells.

    The query side is collected to the driver (it must fit there): one
    numpy pass picks each query's ``nprobe`` nearest integer cells (ties →
    smaller cell id) and builds the (nprobe, m, k) ADC tables of its
    RESIDUAL vs each probed cell — the per-cell table is what makes
    residual ADC asymmetric-exact on the coarse term — grouped by cell.
    The index is filtered with a literal ``_cell IN (probed cells)``, so
    a cell-partitioned index prunes partitions, and the fused ADC scan
    (``_adc_scan``) ranks the codes map-side.  Each corpus vector lives in
    exactly one cell and a query's probe list is distinct, so a pair is
    scored at most once."""
    qids, q = _query_side(queries, books, query_id, q_vec)
    probes = _nearest_cells(q, cents_q, nprobe)  # (n, nprobe)
    resid = (q[:, None, :] - cents_q[probes]).reshape(-1, q.shape[1])
    tabs = _adc_tables(resid, books)  # (n·nprobe, m, k), row-major in probes
    flat = probes.ravel()
    qpos = np.repeat(np.arange(len(q)), probes.shape[1])
    tables = {int(c): (qpos[flat == c], tabs[flat == c]) for c in np.unique(flat)}
    probed = index.filter(F.col("_cell").isin(sorted(tables)))
    return _adc_scan(probed, queries.schema[query_id].dataType, qids, tables, k, query_id, corpus_id)


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
