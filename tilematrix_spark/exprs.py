"""Native Column-expression builders for all tilematrix grid arithmetic.

Every scalar operator of the reference (``_tilepyramid.py:78-166``,
``_tile.py:24-157``, ``_funcs.py:240-267``) re-expressed as pure
``pyspark.sql.functions`` Column expressions — whole-stage-codegen'd JVM
arithmetic, zero Python in the hot path.  The driver-side
:class:`~tilematrix_spark.grid.PyramidConfig` contributes only folded double
literals.

Float parity notes
------------------
* The reference rounds coordinates to 20 decimals (``_conf.py:4``) which is a
  no-op for float64; we use plain double arithmetic.
* ``int(x)`` in CPython truncates toward zero; Spark's ``CAST(double AS
  LONG)`` does the same — used for row/col division (``_funcs.py:243,249``).
* ``int(round(x, 0))`` in CPython rounds half-to-even; Spark's ``bround``
  matches — used for tile pixel shapes (``_tile.py:51-52``).
* Python's float ``%`` equals Java's ``%`` for non-negative dividends and
  positive divisors, and both compare ``== 0.0`` identically at exact
  multiples — used for the on-edge tie-break (``_funcs.py:244,250``).
* When ``zoom`` is a plain int we inject Python-computed literals from
  :class:`PyramidConfig` (bit-identical to the reference); when it is a
  Column we build the identical arithmetic with ``pow(2.0, zoom)`` (exact for
  these magnitudes in IEEE-754 binary64).
"""

from __future__ import annotations

from typing import Union

from pyspark.sql import Column
from pyspark.sql import functions as F

from .grid import VALID_ON_EDGE_USE, PyramidConfig

ColumnOrName = Union[Column, str]
ZoomLike = Union[Column, str, int]

#: tile_id packing layout: zoom in bits 58..62, row in 29..57, col in 0..28.
#: Supports zoom <= 28 on geodetic (matrix width 2**29 at z28 still fits).
_ROW_SHIFT = 29
_ZOOM_SHIFT = 58


def _col(c: ColumnOrName) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _is_int(z: ZoomLike) -> bool:
    return isinstance(z, int) and not isinstance(z, bool)


def _zcol(z: ZoomLike) -> Column:
    return F.lit(z) if _is_int(z) else _col(z)


def pow2(zoom: ZoomLike) -> Column:
    """``2.0 ** zoom`` as a double Column (exact for zoom <= 1023)."""
    if _is_int(zoom):
        return F.lit(float(2**zoom))
    return F.pow(F.lit(2.0), _zcol(zoom))


#: double range that casts to long without ANSI overflow (|x| < 2^62)
_SAFE_LONG = 4.611686018427388e18


def trunc_long(v: Column) -> Column:
    """Truncate-toward-zero double→long cast, safe under ANSI mode.

    Spark 4 runs with ``spark.sql.ansi.enabled=true`` by default, where a
    plain CAST on an out-of-range double *fails the job*.  The engine's
    contract is per-row quarantine, so out-of-range magnitudes (garbage
    coordinates, NaN) are clamped first — any clamped value lands far
    outside every tile matrix and is dropped by the validity filter.
    ``least(greatest(x, lo), hi)`` also maps NaN to a finite value
    (Spark orders NaN greater than any double).
    """
    clamped = F.least(F.greatest(v, F.lit(-_SAFE_LONG)), F.lit(_SAFE_LONG))
    return clamped.cast("long")


# ---------------------------------------------------------------------------
# per-zoom pyramid scalars — reference ``_tilepyramid.py:78-166``
# ---------------------------------------------------------------------------

def matrix_width(tp: PyramidConfig, zoom: ZoomLike) -> Column:
    """Number of columns at zoom — ``_tilepyramid.py:78-86``.  LongType."""
    if _is_int(zoom):
        return F.lit(tp.matrix_width(zoom))
    w = F.ceil(F.lit(float(tp.grid.width)) * pow2(zoom) / F.lit(float(tp.metatiling)))
    return F.greatest(F.lit(1).cast("long"), w)


def matrix_height(tp: PyramidConfig, zoom: ZoomLike) -> Column:
    """Number of rows at zoom — ``_tilepyramid.py:88-96``.  LongType."""
    if _is_int(zoom):
        return F.lit(tp.matrix_height(zoom))
    h = F.ceil(F.lit(float(tp.grid.height)) * pow2(zoom) / F.lit(float(tp.metatiling)))
    return F.greatest(F.lit(1).cast("long"), h)


def pixel_x_size(tp: PyramidConfig, zoom: ZoomLike) -> Column:
    """Map-unit width of one pixel — ``_tilepyramid.py:142-153``."""
    if _is_int(zoom):
        return F.lit(tp.pixel_x_size(zoom))
    return F.lit(tp.grid.right - tp.grid.left) / (
        F.lit(float(tp.grid.width)) * pow2(zoom) * F.lit(float(tp.tile_size))
    )


def pixel_y_size(tp: PyramidConfig, zoom: ZoomLike) -> Column:
    """Map-unit height of one pixel — ``_tilepyramid.py:155-166``."""
    if _is_int(zoom):
        return F.lit(tp.pixel_y_size(zoom))
    return F.lit(tp.grid.top - tp.grid.bottom) / (
        F.lit(float(tp.grid.height)) * pow2(zoom) * F.lit(float(tp.tile_size))
    )


def metatile_x_size(tp: PyramidConfig, zoom: ZoomLike) -> Column:
    """Map-unit metatile width ``W = pixel_x_size * tile_size * metatiling``
    — the column quantum of ``_tile_from_xy`` (``_funcs.py:248``)."""
    if _is_int(zoom):
        return F.lit(tp.tile_x_size(zoom))
    return (pixel_x_size(tp, zoom) * F.lit(float(tp.tile_size))) * F.lit(
        float(tp.metatiling)
    )


def metatile_y_size(tp: PyramidConfig, zoom: ZoomLike) -> Column:
    """Map-unit metatile height ``H`` — ``_funcs.py:242``."""
    if _is_int(zoom):
        return F.lit(tp.tile_y_size(zoom))
    return (pixel_y_size(tp, zoom) * F.lit(float(tp.tile_size))) * F.lit(
        float(tp.metatiling)
    )


# ---------------------------------------------------------------------------
# tile identity
# ---------------------------------------------------------------------------

def tile_id(zoom: ZoomLike, row: ColumnOrName, col: ColumnOrName) -> Column:
    """Pack (zoom, row, col) into one shuffle-friendly long."""
    return (
        F.shiftleft(_zcol(zoom).cast("long"), _ZOOM_SHIFT)
        + F.shiftleft(_col(row).cast("long"), _ROW_SHIFT)
        + _col(col).cast("long")
    )


def _spread_bits(v: Column) -> Column:
    """Spread the low 32 bits of ``v`` onto the even bit positions of a
    long (the classic mask-shift sequence — 5 shift/and pairs, pure
    codegen; same literal masks mirror 1:1 into SQL)."""
    x = v.bitwiseAND(F.lit(0xFFFFFFFF))
    x = (x.bitwiseOR(F.shiftleft(x, 16))).bitwiseAND(F.lit(0x0000FFFF0000FFFF))
    x = (x.bitwiseOR(F.shiftleft(x, 8))).bitwiseAND(F.lit(0x00FF00FF00FF00FF))
    x = (x.bitwiseOR(F.shiftleft(x, 4))).bitwiseAND(F.lit(0x0F0F0F0F0F0F0F0F))
    x = (x.bitwiseOR(F.shiftleft(x, 2))).bitwiseAND(F.lit(0x3333333333333333))
    return (x.bitwiseOR(F.shiftleft(x, 1))).bitwiseAND(F.lit(0x5555555555555555))


def morton_id(row: ColumnOrName, col: ColumnOrName) -> Column:
    """Z-order (Morton) curve index of a tile: row/col bits interleaved
    (row on odd positions) — ≤29-bit dims pack into a positive 58-bit long.

    The write-clustering key for tile sinks at scale: sorting tile rows by
    ``(zoom, morton_id)`` before writing co-locates spatially adjacent
    tiles in the same files/row-groups, so a bbox cover's (row, col) range
    predicates prune file min-max statistics instead of scanning the full
    zoom level — the Iceberg/Parquet layout play for 10^12-tile tables.
    Pure bitwise codegen; mirrors 1:1 into the SQL oracle.
    """
    return F.shiftleft(_spread_bits(_col(row).cast("long")), 1).bitwiseOR(
        _spread_bits(_col(col).cast("long"))
    )


def tile_id_parts(packed: ColumnOrName) -> Column:
    """Unpack a packed tile_id into struct(zoom, row, col)."""
    p = _col(packed)
    mask = F.lit((1 << _ROW_SHIFT) - 1).cast("long")
    return F.struct(
        F.shiftright(p, _ZOOM_SHIFT).cast("int").alias("zoom"),
        F.shiftright(p, _ROW_SHIFT).bitwiseAND(mask).alias("row"),
        p.bitwiseAND(mask).alias("col"),
    )


def tile_is_valid(
    tp: PyramidConfig, zoom: ZoomLike, row: ColumnOrName, col: ColumnOrName
) -> Column:
    """Boolean validity — ``_tile.py:159-178`` (type checks are schema-level)."""
    r, c, z = _col(row), _col(col), _zcol(zoom)
    return (
        (z >= 0)
        & (r >= 0)
        & (c >= 0)
        & (c < matrix_width(tp, zoom))
        & (r < matrix_height(tp, zoom))
    )


# ---------------------------------------------------------------------------
# tile geometry — reference ``_tile.py:24-157``
# ---------------------------------------------------------------------------

def tile_bounds(
    tp: PyramidConfig,
    zoom: ZoomLike,
    row: ColumnOrName,
    col: ColumnOrName,
    pixelbuffer: Union[int, Column] = 0,
) -> Column:
    """struct(left, bottom, right, top) of a tile.

    Base bounds clip edge metatiles to pyramid bounds (``_tile.py:43-48``);
    pixelbuffer expands by ``pixel_x_size * pb`` on **all four** sides
    (``_tile.py:107`` — x-size used vertically too); global grids clamp
    top/bottom to pyramid bounds (``_tile.py:112-116``).
    """
    r, c = _col(row).cast("double"), _col(col).cast("double")
    px = pixel_x_size(tp, zoom)
    h = metatile_y_size(tp, zoom)
    w = metatile_x_size(tp, zoom)
    top = F.lit(tp.top) - r * h
    bottom = F.greatest(top - h, F.lit(tp.bottom))
    left = F.lit(tp.left) + c * w
    right = F.least(left + w, F.lit(tp.right))
    pb = F.lit(pixelbuffer) if isinstance(pixelbuffer, int) else pixelbuffer
    offset = px * pb.cast("double")
    left, bottom, right, top = left - offset, bottom - offset, right + offset, top + offset
    if tp.is_global:
        top = F.least(top, F.lit(tp.top))
        bottom = F.greatest(bottom, F.lit(tp.bottom))
    return F.struct(
        left.alias("left"), bottom.alias("bottom"), right.alias("right"), top.alias("top")
    )


def tile_shape(
    tp: PyramidConfig,
    zoom: ZoomLike,
    row: ColumnOrName,
    col: ColumnOrName,
    pixelbuffer: Union[int, Column] = 0,
) -> Column:
    """struct(height, width) in pixels — ``_tile.py:50-53,141-157``.

    Edge metatiles are clipped (base shape from clipped bounds); with a
    pixelbuffer on a global grid the first/last row only gets +1*pb
    vertically, and a single-row matrix none.
    """
    r, c = _col(row).cast("double"), _col(col).cast("double")
    px, py = pixel_x_size(tp, zoom), pixel_y_size(tp, zoom)
    h, w = metatile_y_size(tp, zoom), metatile_x_size(tp, zoom)
    top = F.lit(tp.top) - r * h
    bottom = F.greatest(top - h, F.lit(tp.bottom))
    left = F.lit(tp.left) + c * w
    right = F.least(left + w, F.lit(tp.right))
    base_h = F.bround((top - bottom) / py, 0).cast("int")
    base_w = F.bround((right - left) / px, 0).cast("int")
    pb = F.lit(pixelbuffer) if isinstance(pixelbuffer, int) else pixelbuffer
    pbi = pb.cast("int")
    height = base_h + F.lit(2) * pbi
    width = base_w + F.lit(2) * pbi
    if tp.is_global:
        mh = matrix_height(tp, zoom)
        height = (
            F.when(pbi == 0, height)
            .when(mh == 1, base_h)
            .when((_col(row) == 0) | (_col(row) == (mh - 1)), base_h + pbi)
            .otherwise(height)
        )
    return F.struct(height.alias("height"), width.alias("width"))


def tile_affine(
    tp: PyramidConfig,
    zoom: ZoomLike,
    row: ColumnOrName,
    col: ColumnOrName,
    pixelbuffer: Union[int, Column] = 0,
) -> Column:
    """array(a,b,c,d,e,f) affine transform — ``_tile.py:126-139``:
    ``(pixel_x_size, 0, left, 0, -pixel_y_size, top)`` of the (buffered) tile."""
    b = tile_bounds(tp, zoom, row, col, pixelbuffer)
    return F.array(
        pixel_x_size(tp, zoom),
        F.lit(0.0),
        b["left"],
        F.lit(0.0),
        -pixel_y_size(tp, zoom),
        b["top"],
    )


# ---------------------------------------------------------------------------
# point -> tile — reference ``_funcs.py:240-267`` + ``_tilepyramid.py:271-289``
# ---------------------------------------------------------------------------

def rowcol_raw(
    tp: PyramidConfig,
    x: ColumnOrName,
    y: ColumnOrName,
    zoom: ZoomLike,
    on_edge_use: str = "rb",
) -> Column:
    """struct(row, col) from truncating division + edge tie-break + wrap,
    WITHOUT bounds guard or validity filter — the raw ``_tile_from_xy``
    arithmetic (``_funcs.py:240-260``) used by cover corner lookups."""
    if on_edge_use not in VALID_ON_EDGE_USE:
        raise ValueError("on_edge_use must be one of lb, rb, rt or lt")
    xc, yc = _col(x).cast("double"), _col(y).cast("double")
    h = metatile_y_size(tp, zoom)
    w = metatile_x_size(tp, zoom)
    dy = F.lit(tp.top) - yc
    row = trunc_long(dy / h)
    if on_edge_use in ("rt", "lt"):
        row = F.when((dy % h) == F.lit(0.0), row - 1).otherwise(row)
    dx = xc - F.lit(tp.left)
    col = trunc_long(dx / w)
    if on_edge_use in ("lb", "lt"):
        col = F.when((dx % w) == F.lit(0.0), col - 1).otherwise(col)
    if tp.is_global:
        mw = matrix_width(tp, zoom)
        col = (
            F.when(col == -1, mw - 1)
            .when(col >= mw, col % mw)
            .otherwise(col)
        )
    return F.struct(row.alias("row"), col.alias("col"))


def tile_from_xy(
    tp: PyramidConfig,
    x: ColumnOrName,
    y: ColumnOrName,
    zoom: ZoomLike,
    on_edge_use: str = "rb",
) -> Column:
    """struct(row, col), NULL where the reference raises.

    Out-of-grid points (``_tilepyramid.py:285-286``) and edge adjustments
    yielding invalid tiles (``_funcs.py:262-267``) produce a NULL struct —
    the engine's quarantine convention instead of raising per-row.
    """
    xc, yc = _col(x).cast("double"), _col(y).cast("double")
    rc = rowcol_raw(tp, x, y, zoom, on_edge_use)
    in_grid = (
        (xc >= F.lit(tp.left))
        & (xc <= F.lit(tp.right))
        & (yc >= F.lit(tp.bottom))
        & (yc <= F.lit(tp.top))
    )
    valid = tile_is_valid(tp, zoom, rc["row"], rc["col"])
    return F.when(in_grid & valid, rc).otherwise(F.lit(None))


def snap_bounds(
    tp: PyramidConfig,
    left: ColumnOrName,
    bottom: ColumnOrName,
    right: ColumnOrName,
    top: ColumnOrName,
    zoom: ZoomLike,
    pixelbuffer: Union[int, Column] = 0,
) -> Column:
    """struct(left,bottom,right,top) aligned to the tile grid —
    ``_funcs.py:68-83``: outer corners of the (buffered) bounds of the
    left-bottom corner tile (edge rule ``rt``) and right-top tile (``lb``)."""
    lb = rowcol_raw(tp, left, bottom, zoom, on_edge_use="rt")
    rt = rowcol_raw(tp, right, top, zoom, on_edge_use="lb")
    lb_bounds = tile_bounds(tp, zoom, lb["row"], lb["col"], pixelbuffer)
    rt_bounds = tile_bounds(tp, zoom, rt["row"], rt["col"], pixelbuffer)
    return F.struct(
        lb_bounds["left"].alias("left"),
        lb_bounds["bottom"].alias("bottom"),
        rt_bounds["right"].alias("right"),
        rt_bounds["top"].alias("top"),
    )
