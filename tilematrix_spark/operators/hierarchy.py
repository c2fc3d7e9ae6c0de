"""Tile-pyramid navigation operators: parent / children / neighbors /
cross-pyramid translation — reference ``_tile.py:180-283``, ``_funcs.py:132-159``.

All fully native: parent is a projection; children/neighbors/intersecting are
bounded explodes over literal offset arrays with higher-order-function
transforms — no Python, no shuffle.  A zoom-up rollup is then just
``df.groupBy(parent cols).agg(...)``.
"""

from __future__ import annotations

from typing import Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import exprs
from ..grid import PyramidConfig

ColumnOrName = Union[Column, str]


def _col(c: ColumnOrName) -> Column:
    return F.col(c) if isinstance(c, str) else c


def parent(zoom: exprs.ZoomLike, row: ColumnOrName, col: ColumnOrName) -> Column:
    """struct(zoom,row,col) of the parent tile; NULL at zoom 0 —
    ``_tile.py:180-186``."""
    z = exprs._zcol(zoom)
    p = F.struct(
        (z - 1).cast("int").alias("zoom"),
        F.floor(_col(row) / 2).alias("row"),
        F.floor(_col(col) / 2).alias("col"),
    )
    return F.when(z > 0, p).otherwise(F.lit(None))


def children(
    df: DataFrame,
    tp: PyramidConfig,
    zoom: exprs.ZoomLike = "zoom",
    row: ColumnOrName = "row",
    col: ColumnOrName = "col",
    out_prefix: str = "child_",
) -> DataFrame:
    """Explode each tile into its ≤4 children at zoom+1 — ``_tile.py:188-207``.

    Children falling outside the child matrix (metatiling edge effects) are
    dropped, matching the reference's validity filter.
    """
    z = exprs._zcol(zoom)
    next_zoom = (z + 1).cast("int")
    offsets = F.array(*[
        F.struct(F.lit(dr).alias("dr"), F.lit(dc).alias("dc"))
        for dr, dc in [(0, 0), (0, 1), (1, 1), (1, 0)]
    ])
    cand = F.transform(
        offsets,
        lambda o: F.struct(
            next_zoom.alias("zoom"),
            (_col(row) * 2 + o["dr"]).alias("row"),
            (_col(col) * 2 + o["dc"]).alias("col"),
        ),
    )
    valid = F.filter(
        cand,
        lambda c: (c["row"] < exprs.matrix_height(tp, c["zoom"]))
        & (c["col"] < exprs.matrix_width(tp, c["zoom"])),
    )
    out = df.withColumn("_tmx_child", F.explode(valid))
    return (
        out.withColumn(out_prefix + "zoom", F.col("_tmx_child.zoom"))
        .withColumn(out_prefix + "row", F.col("_tmx_child.row"))
        .withColumn(out_prefix + "col", F.col("_tmx_child.col"))
        .drop("_tmx_child")
    )


def neighbors(
    df: DataFrame,
    tp: PyramidConfig,
    zoom: exprs.ZoomLike = "zoom",
    row: ColumnOrName = "row",
    col: ColumnOrName = "col",
    connectedness: int = 8,
    out_prefix: str = "neighbor_",
) -> DataFrame:
    """Explode each tile into its 4-/8-connected neighbors — ``_tile.py:209-272``.

    Rows outside the matrix are dropped; columns wrap around the
    antimeridian iff the grid is global; duplicates (wrap collisions on tiny
    matrices) are removed per source tile; the tile itself is excluded.
    This is the k=1 ring of the k-ring kNN expansion (see knn.py).
    """
    if connectedness not in (4, 8):
        raise ValueError("only connectedness values 8 or 4 are allowed")
    offs = [(-1, 0), (0, 1), (1, 0), (0, -1)]
    if connectedness == 8:
        offs += [(-1, 1), (1, 1), (1, -1), (-1, -1)]
    return _ring_explode(df, tp, zoom, row, col, offs, out_prefix)


def k_ring(
    df: DataFrame,
    tp: PyramidConfig,
    k: int,
    zoom: exprs.ZoomLike = "zoom",
    row: ColumnOrName = "row",
    col: ColumnOrName = "col",
    out_prefix: str = "ring_",
    include_center: bool = True,
) -> DataFrame:
    """Generalized ring expansion: all tiles within Chebyshev distance ``k``
    (the reference's ``get_neighbors`` is the k=1 shell; this is the disc,
    plus the center when ``include_center``).  Used by the kNN join."""
    offs = [
        (dr, dc)
        for dr in range(-k, k + 1)
        for dc in range(-k, k + 1)
        if include_center or not (dr == 0 and dc == 0)
    ]
    return _ring_explode(
        df, tp, zoom, row, col, offs, out_prefix, exclude_self=not include_center
    )


def disc_tiles(
    df: DataFrame,
    tp: PyramidConfig,
    radius: Union[int, Column],
    zoom: exprs.ZoomLike = "zoom",
    row: ColumnOrName = "row",
    col: ColumnOrName = "col",
    out_prefix: str = "ring_",
) -> DataFrame:
    """All tiles within Chebyshev distance ``radius`` (center included) via
    ``sequence`` explodes — O(1) plan size regardless of radius, unlike the
    literal-offset ``k_ring`` (use that for small fixed rings).  ``radius``
    may be a per-row Column (kNN's planned search radius).  Rows clamp
    to the matrix; columns wrap on global grids (dedup'd when the disc is
    wider than the matrix)."""
    mh = exprs.matrix_height(tp, zoom)
    mw = exprs.matrix_width(tp, zoom)
    r_lo = F.greatest(_col(row) - radius, F.lit(0).cast("long"))
    r_hi = F.least(_col(row) + radius, mh - 1)
    out = df.withColumn(out_prefix + "row", F.explode(F.sequence(r_lo, r_hi)))
    c_lo = _col(col) - radius
    c_hi = _col(col) + radius
    if tp.is_global:
        # clamp the span to one full wrap, then pmod + distinct
        c_hi = F.least(c_hi, c_lo + mw - 1)
        cols = F.array_distinct(
            F.transform(F.sequence(c_lo, c_hi), lambda c: F.pmod(c, mw))
        )
    else:
        c_lo = F.greatest(c_lo, F.lit(0).cast("long"))
        c_hi = F.least(c_hi, mw - 1)
        cols = F.when(c_lo <= c_hi, F.sequence(c_lo, c_hi)).otherwise(
            F.array().cast("array<long>")
        )
    return out.withColumn(out_prefix + "col", F.explode(cols))


def _ring_explode(df, tp, zoom, row, col, offs, out_prefix, exclude_self=True):
    z = exprs._zcol(zoom)
    mh = exprs.matrix_height(tp, zoom)
    mw = exprs.matrix_width(tp, zoom)
    offsets = F.array(*[
        F.struct(F.lit(dr).cast("long").alias("dr"), F.lit(dc).cast("long").alias("dc"))
        for dr, dc in offs
    ])

    def wrap_col(c: Column) -> Column:
        # reference wraps by one matrix width (_tile.py:256-263); pmod
        # generalizes to k-ring radii exceeding the matrix width
        if tp.is_global:
            return F.pmod(c, mw)
        return c

    cand = F.transform(
        offsets,
        lambda o: F.struct(
            (_col(row) + o["dr"]).alias("row"),
            wrap_col(_col(col) + o["dc"]).alias("col"),
        ),
    )
    # row bound; col bound (non-global grids don't wrap, so drop out-of-range)
    valid = F.filter(
        cand,
        lambda c: (c["row"] >= 0) & (c["row"] < mh) & (c["col"] >= 0) & (c["col"] < mw),
    )
    if exclude_self:
        valid = F.filter(
            valid, lambda c: ~((c["row"] == _col(row)) & (c["col"] == _col(col)))
        )
    uniq = F.array_distinct(valid)
    out = df.withColumn("_tmx_n", F.explode(uniq))
    return (
        out.withColumn(out_prefix + "zoom", z.cast("int"))
        .withColumn(out_prefix + "row", F.col("_tmx_n.row"))
        .withColumn(out_prefix + "col", F.col("_tmx_n.col"))
        .drop("_tmx_n")
    )


def intersecting(
    df: DataFrame,
    tp_source: PyramidConfig,
    tp_target: PyramidConfig,
    zoom: exprs.ZoomLike = "zoom",
    row: ColumnOrName = "row",
    col: ColumnOrName = "col",
    out_prefix: str = "target_",
) -> DataFrame:
    """Translate tiles between pyramids differing only in metatiling —
    ``_funcs.py:132-159``.

    ratio > 1: explode into up to ratio² subtiles (edge-invalid dropped);
    ratio < 1: pure projection ``int(ratio * index)``; equal: identity.
    """
    if tp_source.grid != tp_target.grid:
        raise ValueError("Tile and TilePyramid source grids must be the same.")
    mt_s, mt_t = tp_source.metatiling, tp_target.metatiling
    z = exprs._zcol(zoom)
    if mt_s > mt_t:
        m = mt_s // mt_t
        offsets = F.array(*[
            F.struct(F.lit(dr).cast("long").alias("dr"), F.lit(dc).cast("long").alias("dc"))
            for dr in range(m) for dc in range(m)
        ])
        cand = F.transform(
            offsets,
            lambda o: F.struct(
                (_col(row) * m + o["dr"]).alias("row"),
                (_col(col) * m + o["dc"]).alias("col"),
            ),
        )
        valid = F.filter(
            cand,
            lambda c: (c["row"] < exprs.matrix_height(tp_target, zoom))
            & (c["col"] < exprs.matrix_width(tp_target, zoom)),
        )
        out = df.withColumn("_tmx_t", F.explode(valid))
        return (
            out.withColumn(out_prefix + "zoom", z.cast("int"))
            .withColumn(out_prefix + "row", F.col("_tmx_t.row"))
            .withColumn(out_prefix + "col", F.col("_tmx_t.col"))
            .drop("_tmx_t")
        )
    if mt_s < mt_t:
        m = mt_t // mt_s  # divide by the inverse ratio: int(mt_s/mt_t * idx)
        return (
            df.withColumn(out_prefix + "zoom", z.cast("int"))
            .withColumn(out_prefix + "row", F.floor(_col(row) / m))
            .withColumn(out_prefix + "col", F.floor(_col(col) / m))
        )
    return (
        df.withColumn(out_prefix + "zoom", z.cast("int"))
        .withColumn(out_prefix + "row", _col(row))
        .withColumn(out_prefix + "col", _col(col))
    )
