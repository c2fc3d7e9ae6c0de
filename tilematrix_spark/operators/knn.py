"""kNN lookup via a density-bounded tile disc — the north-star join operator.

Generalizes the reference's ``get_neighbors`` ring (``_tile.py:209-272``) to
a disc planned from grid-cell counts (Distributed Stream KNN Join, SIGMOD
2021).  Per-tile point counts give each query tile r0, the least Chebyshev
radius whose disc holds k points, so d_k ≤ D, the distance from the query to
the farthest corner of disc(r0).  Every point outside disc(R), R = floor(D /
min(tile_w, tile_h)) + 1, is strictly farther than D, so one pass suffices:
disc(R) explode → broadcast equi-join on (row, col) against the tile-indexed
point table (which never moves) → windowed top-k per query.
"""

from __future__ import annotations

import json

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..grid import PyramidConfig
from . import assign, hierarchy


def _dist(tp: PyramidConfig):
    dx = F.abs(F.col("_qx") - F.col("_px"))
    if tp.is_global:
        dx = F.least(dx, F.lit(tp.right - tp.left) - dx)
    dy = F.col("_qy") - F.col("_py")
    return F.sqrt(dx * dx + dy * dy)


def _start_radius(counts: np.ndarray, k: int, is_global: bool) -> np.ndarray:
    """Per tile, the least Chebyshev radius whose disc holds >= k points of
    ``counts`` (rows clamp, columns wrap on global grids, as in
    ``hierarchy.disc_tiles``)."""
    mh, mw = counts.shape
    r_max = max(mh, mw) - 1
    wide = np.hstack([counts, counts]) if is_global else counts
    pre = np.zeros((mh + 1, wide.shape[1] + 1), np.int64)
    pre[1:, 1:] = wide.cumsum(0).cumsum(1)
    rows, cols = np.indices(counts.shape)

    def disc_count(r):
        r_lo, r_hi = np.maximum(rows - r, 0), np.minimum(rows + r, mh - 1) + 1
        if is_global:
            c_lo = (cols - r) % mw
            c_hi = c_lo + np.minimum(2 * r + 1, mw)
        else:
            c_lo, c_hi = np.maximum(cols - r, 0), np.minimum(cols + r, mw - 1) + 1
        return pre[r_hi, c_hi] - pre[r_lo, c_hi] - pre[r_hi, c_lo] + pre[r_lo, c_lo]

    # bisection on the monotone disc count (r_max, the whole matrix, if none holds k)
    lo, hi = np.zeros(counts.shape, np.int64), np.full(counts.shape, r_max)
    for _ in range(r_max.bit_length()):
        mid = (lo + hi) // 2
        ok = disc_count(mid) >= k
        hi, lo = np.where(ok, mid, hi), np.where(ok, lo, mid + 1)
    return hi


def _tile_array(values: np.ndarray, ddl: str):
    # one JSON string literal, folded by the optimizer into an array constant:
    # F.lit(ndarray) makes one py4j call per element (~0.6 s at 8192 tiles)
    return F.from_json(F.lit(json.dumps(values.ravel().tolist())), ddl)


def knn_join(
    queries: DataFrame,
    points: DataFrame,
    tp: PyramidConfig,
    zoom: int,
    k: int,
    query_id: str = "qid",
    point_id: str = "pid",
    qx: str = "lon",
    qy: str = "lat",
    px: str = "lon",
    py: str = "lat",
) -> DataFrame:
    """Return (query_id, point_id, dist, rank) with rank ≤ k per query.

    ``points`` is tile-indexed at ``zoom`` internally and read twice (the
    density collect, then the join): cache it when its source is costly to
    rescan.  Distance is planar Euclidean in CRS units with antimeridian
    x-wrap on global grids.  Ties break on (dist, point_id) — deterministic.

    Driver contract: building the result runs one collect, of the non-empty
    tiles at ``zoom`` with their point counts; their prefix sums form a dense
    ``matrix_height × matrix_width`` int64 array (64 KB at geodetic z6), and
    the per-tile counts and start radii ride the plan as two array constants
    of the same shape.  Everything else runs when the result is consumed.
    """
    w, h = tp.tile_x_size(zoom), tp.tile_y_size(zoom)
    mw, mh = tp.matrix_width(zoom), tp.matrix_height(zoom)
    span = tp.right - tp.left

    q = assign.with_tile(
        queries.select(F.col(query_id), F.col(qx).alias("_qx"), F.col(qy).alias("_qy")),
        tp, zoom, "_qx", "_qy", out_tile_id=None,
    )
    p = assign.with_tile(
        points.select(F.col(point_id), F.col(px).alias("_px"), F.col(py).alias("_py")),
        tp, zoom, "_px", "_py", out_row="_prow", out_col="_pcol", out_tile_id=None,
    )

    counts = np.zeros((mh, mw), np.int64)
    for r, c, n in p.groupBy("_prow", "_pcol").count().collect():
        counts[r, c] = n
    r0_by_tile = _tile_array(_start_radius(counts, k, tp.is_global), "array<int>")
    count_by_tile = _tile_array(counts, "array<long>")

    qxc, qyc, row, col = F.col("_qx"), F.col("_qy"), F.col("row"), F.col("col")
    r0 = F.get(r0_by_tile, (row * mw + col).cast("int"))
    # D: query to the farthest corner of disc(r0), x distance wrapped
    dx = F.greatest(qxc - (tp.left + (col - r0) * w), tp.left + (col + r0 + 1) * w - qxc)
    if tp.is_global:
        dx = F.least(dx, F.lit(span / 2))
    r_lo, r_hi = F.greatest(row - r0, F.lit(0)), F.least(row + r0, F.lit(mh - 1))
    dy = F.greatest(tp.top - r_lo * h - qyc, qyc - (tp.top - (r_hi + 1) * h))
    q = q.withColumn("_d", F.sqrt(dx * dx + dy * dy))
    radius = F.floor(F.col("_d") / min(w, h)).cast("long") + 1

    # drop ring tiles that hold no point or whose rect is farther than D
    rdx = F.abs(qxc - (tp.left + (F.col("ring_col") + 0.5) * w))
    if tp.is_global:
        rdx = F.least(rdx, span - rdx)
    gx = F.greatest(rdx - w / 2, F.lit(0.0))
    gy = F.greatest(F.abs(qyc - (tp.top - (F.col("ring_row") + 0.5) * h)) - h / 2, F.lit(0.0))
    ring = (
        hierarchy.disc_tiles(q, tp, radius=radius, zoom=zoom)
        .filter(F.get(count_by_tile, (F.col("ring_row") * mw + F.col("ring_col")).cast("int")) > 0)
        .filter(gx * gx + gy * gy <= F.col("_d") * F.col("_d"))
        .select(query_id, "_qx", "_qy", "ring_row", "ring_col")
    )
    joined = F.broadcast(ring).join(
        p, (F.col("ring_row") == F.col("_prow")) & (F.col("ring_col") == F.col("_pcol"))
    )
    win = Window.partitionBy(query_id).orderBy(F.col("dist").asc(), F.col(point_id).asc())
    return (
        joined.withColumn("dist", _dist(tp))
        .withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select(query_id, point_id, "dist", "rank")
    )


def knn_brute_force(
    queries: DataFrame,
    points: DataFrame,
    tp: PyramidConfig,
    k: int,
    query_id: str = "qid",
    point_id: str = "pid",
    qx: str = "lon",
    qy: str = "lat",
    px: str = "lon",
    py: str = "lat",
) -> DataFrame:
    """Oracle-grade brute force: broadcast cross join + windowed top-k.
    O(|Q|·|P|); kept as the test reference that pins ``knn_join``."""
    q = queries.select(F.col(query_id), F.col(qx).alias("_qx"), F.col(qy).alias("_qy"))
    p = points.select(F.col(point_id), F.col(px).alias("_px"), F.col(py).alias("_py"))
    joined = F.broadcast(q).crossJoin(p)
    win = Window.partitionBy(query_id).orderBy(F.col("dist").asc(), F.col(point_id).asc())
    return (
        joined.withColumn("dist", _dist(tp))
        .withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select(query_id, point_id, "dist", "rank")
    )
