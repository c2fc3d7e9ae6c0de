"""Geometry → tiles spatial join — reference ``TilePyramid.tiles_from_geom``
(``_tilepyramid.py:213-269``) as a two-phase filter-refine join.

Phase 1 (native): candidate tiles from the geometry's bbox via the
range-explode cover (``operators/cover.py`` == ``tiles_from_bbox``,
``_tilepyramid.py:203-211``), including the global antimeridian path.
Points short-circuit to the native ``tile_from_xy`` projection
(``_tilepyramid.py:225-231``) — zero Python.

Phase 2 (Arrow): ``mapInPandas`` refinement with the numpy kernels in
:mod:`tilematrix_spark.geomkernels` — the engine's equivalent of the
reference's prepared-geometry ``intersects`` / ``intersection().area``
filters.  Geometries are parsed once per batch (explode keeps a geometry's
candidate tiles adjacent, so the per-batch cache hits ~always) and tested
against all candidate tile rects vectorized — no shuffle, no per-row Python.

Antimeridian parity: instead of materializing the clipped-and-shifted
geometry (``clip_geometry_to_srs_bounds``, ``_funcs.py:22-65``), candidate
tile rects are *also* tested shifted by ∓2·pyramid.right (the reference's
translate offset, ``_funcs.py:52-54``), gated on the geometry bbox actually
overflowing that side — set-equivalent to testing against the shifted parts.

At 100 TB: candidate generation is the skew risk (continent × z20).  Use
``max_cover_tiles`` from the cover operator via the passthrough kwargs; the
refine stage is embarrassingly parallel.
"""

from __future__ import annotations

from typing import Iterator, Optional, Union

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import exprs, geomkernels
from ..grid import PyramidConfig
from . import cover as cover_ops

ColumnOrName = Union[Column, str]

_INFO_SCHEMA = T.StructType(
    [
        T.StructField("gtype", T.StringType()),
        T.StructField("minx", T.DoubleType()),
        T.StructField("miny", T.DoubleType()),
        T.StructField("maxx", T.DoubleType()),
        T.StructField("maxy", T.DoubleType()),
        T.StructField("valid", T.BooleanType()),
        T.StructField("empty", T.BooleanType()),
        T.StructField("px", T.DoubleType()),
        T.StructField("py", T.DoubleType()),
    ]
)


@F.pandas_udf(_INFO_SCHEMA)
def _geom_info(geoms: pd.Series) -> pd.DataFrame:
    out = {k: [] for k in ("gtype", "minx", "miny", "maxx", "maxy", "valid", "empty", "px", "py")}
    for s in geoms:
        try:
            g = geomkernels.parse_geometry(s)
            gtype = g["type"]
            empty = geomkernels.geom_is_empty(g)
            valid = bool(not empty and geomkernels.geom_is_valid(g))
            minx, miny, maxx, maxy = (
                geomkernels.geom_bounds(g) if not empty else (np.nan,) * 4
            )
            px, py = (
                (float(g["coordinates"][0]), float(g["coordinates"][1]))
                if gtype == "Point" and not empty
                else (np.nan, np.nan)
            )
        except Exception:
            gtype, empty, valid = "Invalid", True, False
            minx = miny = maxx = maxy = px = py = np.nan
        out["gtype"].append(gtype)
        out["minx"].append(minx)
        out["miny"].append(miny)
        out["maxx"].append(maxx)
        out["maxy"].append(maxy)
        out["valid"].append(valid)
        out["empty"].append(empty)
        out["px"].append(px)
        out["py"].append(py)
    return pd.DataFrame(out)


def _tile_rects(tp: PyramidConfig, zoom: np.ndarray, rows: np.ndarray, cols: np.ndarray):
    """Tile base bounds (pixelbuffer 0) with metatile edge clipping —
    numpy mirror of ``exprs.tile_bounds`` / ``_tile.py:43-48``."""
    zs = np.asarray(zoom)
    uniq = np.unique(zs)
    h = np.empty_like(zs, dtype=np.float64)
    w = np.empty_like(zs, dtype=np.float64)
    for z in uniq:
        m = zs == z
        h[m] = tp.tile_y_size(int(z))
        w[m] = tp.tile_x_size(int(z))
    top = tp.top - rows * h
    bottom = np.maximum(top - h, tp.bottom)
    left = tp.left + cols * w
    right = np.minimum(left + w, tp.right)
    return left, bottom, right, top


def tiles_from_geom(
    df: DataFrame,
    tp: PyramidConfig,
    zoom: exprs.ZoomLike,
    geom: ColumnOrName = "geometry",
    exact: bool = False,
    on_invalid: str = "drop",
    out_row: str = "row",
    out_col: str = "col",
    max_cover_tiles: Optional[int] = None,
    oversize: str = "split",
) -> DataFrame:
    """All tiles intersecting each row's geometry (GeoJSON string column).

    Output: the input columns + ``out_row``/``out_col``.  Empty geometries
    yield no rows (``_tilepyramid.py:221-222``); invalid ones are dropped
    (``on_invalid='drop'``) where the reference raises
    (``_tilepyramid.py:223-224``).  ``exact=True`` keeps only tiles with
    positive intersection *area* (``_tilepyramid.py:240-254``), so
    line/point geometries yield nothing, as in the reference.
    """
    if on_invalid not in ("drop", "error"):
        raise ValueError("on_invalid must be 'drop' or 'error'")
    geom_col = F.col(geom) if isinstance(geom, str) else geom
    geom_name = geom if isinstance(geom, str) else "geometry"
    zoom_is_col = not isinstance(zoom, int)

    base = df.withColumn("_gi", _geom_info(geom_col.cast("string")))
    base = base.filter(~F.col("_gi.empty"))
    if on_invalid == "drop":
        base = base.filter(F.col("_gi.valid"))

    orig_cols = df.columns

    # -- Point fast path: pure native projection --------------------------
    points = base.filter(F.col("_gi.gtype") == "Point")
    pt = points.withColumn("_t", exprs.tile_from_xy(tp, "_gi.px", "_gi.py", zoom))
    pt = (
        pt.filter(F.col("_t").isNotNull())
        .withColumn(out_row, F.col("_t.row"))
        .withColumn(out_col, F.col("_t.col"))
        .select(*orig_cols, out_row, out_col)
    )
    # NOTE: the reference dispatches Point BEFORE the exact branch
    # (_tilepyramid.py:225-231), so exact=True still yields point tiles;
    # MultiPoint/LineString go through the area filter and yield nothing.

    # -- general path: bbox cover candidates + Arrow refine ----------------
    others = base.filter(F.col("_gi.gtype") != "Point")
    cand = cover_ops.tiles_from_bounds(
        others,
        tp,
        zoom,
        left="_gi.minx",
        bottom="_gi.miny",
        right="_gi.maxx",
        top="_gi.maxy",
        out_row=out_row,
        out_col=out_col,
        max_cover_tiles=max_cover_tiles,
        oversize=oversize,
    )
    cand = cand.withColumn("_minx", F.col("_gi.minx")).withColumn("_maxx", F.col("_gi.maxx"))
    if zoom_is_col:
        cand = cand.withColumn("_z", exprs._zcol(zoom).cast("int"))
    else:
        cand = cand.withColumn("_z", F.lit(int(zoom)))
    cand = cand.select(*orig_cols, "_z", "_minx", "_maxx", out_row, out_col)
    schema = cand.schema
    shift = 2.0 * tp.right
    grid_left, grid_right = tp.left, tp.right
    is_global = tp.is_global
    geom_idx = cand.columns.index(geom_name)

    def refine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            keep = np.zeros(len(pdf), dtype=bool)
            rows = pdf[out_row].to_numpy(dtype=np.float64)
            cols = pdf[out_col].to_numpy(dtype=np.float64)
            zs = pdf["_z"].to_numpy()
            rects = _tile_rects(tp, zs, rows, cols)
            geoms = pdf.iloc[:, geom_idx]
            minx = pdf["_minx"].to_numpy()
            maxx = pdf["_maxx"].to_numpy()
            for s, idx in pd.Series(range(len(pdf))).groupby(geoms.values, sort=False):
                key = s if isinstance(s, str) else str(s)
                g = cache.get(key)
                if g is None:
                    g = geomkernels.parse_geometry(key)
                    if len(cache) > 64:
                        cache.clear()
                    cache[key] = g
                ii = idx.to_numpy()
                sub = tuple(a[ii] for a in rects)
                offsets = [0.0]
                if is_global and minx[ii[0]] < grid_left:
                    offsets.append(-shift)
                if is_global and maxx[ii[0]] > grid_right:
                    offsets.append(shift)
                if exact:
                    acc = np.zeros(len(ii), dtype=np.float64)
                    for off in offsets:
                        acc += geomkernels.rects_intersection_area(
                            g, (sub[0] + off, sub[1], sub[2] + off, sub[3])
                        )
                    keep[ii] = acc > 0
                else:
                    hit = np.zeros(len(ii), dtype=bool)
                    for off in offsets:
                        hit |= geomkernels.rects_intersect(
                            g, (sub[0] + off, sub[1], sub[2] + off, sub[3])
                        )
                    keep[ii] = hit
            yield pdf[keep]

    refined = cand.mapInPandas(refine, schema=schema).select(*orig_cols, out_row, out_col)
    return pt.unionByName(refined)
