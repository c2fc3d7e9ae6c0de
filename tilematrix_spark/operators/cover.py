"""Tile-cover enumeration: every tile intersecting a per-row bounding box.

Reference semantics: ``TilePyramid.tiles_from_bounds`` (``_tilepyramid.py:179-201``)
→ ``_global_tiles_from_bounds`` (``_funcs.py:162-217``) /
``_tiles_from_cleaned_bounds`` (``_funcs.py:220-237``).

Spark-first design
------------------
The reference enumerates ``product(row_range, col_range)`` per query; here the
cover is a **range-explode**: corner tiles via the native ``rowcol_raw``
arithmetic, then ``explode(sequence(row_min,row_max))`` ×
``explode(sequence(col_min,col_max))`` — no shuffle, whole-stage codegen, one
generate stage per axis.

Antimeridian handling (global grids) is reduced to interval logic: the
reference's union of ≤4 shifted boxes (``_funcs.py:175-192``) always shares
the clamped y-extent, so the union is fully described by ≤2 x-intervals.  If
they are disjoint (multipart union, ``_funcs.py:197-211``) candidates span the
full pyramid width and are filtered by closed-interval overlap — the exact
equivalent of ``prep(union).intersects(tile.bbox())`` for axis-aligned boxes.

Scale notes
-----------
* A continent-sized box at high zoom explodes to a huge tile set.  With
  ``max_cover_tiles`` set, oversized covers are by default row-band SPLIT
  before the explode (explode-cap pattern, SURVEY §4: complete results,
  bounded per-step generate size); ``oversize="drop"`` quarantines them
  instead.
* Row-major ordering (the reference generator's contract) is a physical
  concern: ``.orderBy("row","col")`` at the sink, or
  ``repartitionByRange`` + ``sortWithinPartitions`` for batch-by-row parity.

Engine conventions vs reference errors: where the reference *raises*
(bounds outside a non-global grid, invalid derived tiles) this operator
clamps/filters — per-row quarantine instead of failing a trillion-row job.
"""

from __future__ import annotations

from typing import Optional, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import exprs
from ..grid import PyramidConfig

ColumnOrName = Union[Column, str]


def _col(c: ColumnOrName) -> Column:
    return F.col(c) if isinstance(c, str) else c


def batch_row_major(
    df: DataFrame,
    row: ColumnOrName = "row",
    col: ColumnOrName = "col",
    num_partitions: Optional[int] = None,
) -> DataFrame:
    """Physical equivalent of the reference's ``batch_by='row'`` generator
    contract (``_funcs.py:227-235``): tiles partitioned by row bands, sorted
    (row, col) within each partition — consumers stream row-major batches."""
    parts = [num_partitions] if num_partitions else []
    return df.repartitionByRange(*parts, _col(row)).sortWithinPartitions(
        _col(row), _col(col)
    )


def batch_z_order(
    df: DataFrame,
    zoom: Optional[ColumnOrName] = None,
    row: ColumnOrName = "row",
    col: ColumnOrName = "col",
    num_partitions: Optional[int] = None,
) -> DataFrame:
    """Physical write clustering on the Z-order curve: range-partition and
    sort tile rows by ``(zoom?, morton_id)`` so spatially adjacent tiles
    land in the same files/row-groups — a bbox query's row/col predicates
    then prune file min-max stats instead of scanning the zoom level (the
    sink-side counterpart of ``batch_row_major``, which preserves the
    reference generator's row-major ORDER; Z-order trades that contract
    for 2D locality)."""
    m = exprs.morton_id(_col(row), _col(col))
    keys = ([_col(zoom)] if zoom is not None else []) + [m]
    parts = [num_partitions] if num_partitions else []
    return df.repartitionByRange(*parts, *keys).sortWithinPartitions(*keys)


def cover_ranges(
    tp: PyramidConfig,
    zoom: exprs.ZoomLike,
    left: ColumnOrName,
    bottom: ColumnOrName,
    right: ColumnOrName,
    top: ColumnOrName,
) -> Column:
    """struct(row_min,row_max,col_min,col_max,multi,i1l,i1r,i2l,i2r).

    The candidate row/col ranges of the cover plus (for multipart
    antimeridian unions) the two x-intervals to refine against.
    """
    l, b = _col(left).cast("double"), _col(bottom).cast("double")
    r, t = _col(right).cast("double"), _col(top).cast("double")

    # quarantine absurd inputs (NaN / magnitudes orders beyond the grid):
    # the reference raises per call; the engine yields an empty cover.
    # Legitimate antimeridian overflow stays well within the budget.
    budget = max(abs(tp.left), abs(tp.right), abs(tp.top), abs(tp.bottom), 1.0) * 1e6
    sane = F.lit(True)
    for v in (l, b, r, t):
        sane = sane & ~F.isnan(v) & (F.abs(v) <= F.lit(budget))

    if tp.is_global:
        # clamp to pyramid top/bottom — _funcs.py:166-168
        t = F.least(t, F.lit(tp.top))
        b = F.greatest(b, F.lit(tp.bottom))
        west = l < F.lit(tp.left)
        east = r > F.lit(tp.right)
        crossing = west | east
        r2 = F.lit(tp.right - tp.left)
        # union of shifted boxes is multipart iff the two x-intervals are
        # strictly disjoint; in the both-sides case the remainder box spans
        # the whole pyramid, so the union is always a single part.
        multi = crossing & ~(west & east) & (r < l + r2)
        # west: A=[l+R2, tp.right], B=[tp.left, r] ; east: C=[tp.left, r-R2], D=[l, tp.right]
        i1l = F.when(west & ~east, l + r2).when(east & ~west, F.lit(tp.left))
        i1r = F.when(west & ~east, F.lit(tp.right)).when(east & ~west, r - r2)
        i2l = F.when(west & ~east, F.lit(tp.left)).when(east & ~west, l)
        i2r = F.when(west & ~east, r).when(east & ~west, F.lit(tp.right))
        cl = F.when(crossing, F.lit(tp.left)).otherwise(l)
        cr = F.when(crossing, F.lit(tp.right)).otherwise(r)
    else:
        multi = F.lit(False)
        i1l = i1r = i2l = i2r = F.lit(None).cast("double")
        cl, cr = l, r

    # corner tiles — _funcs.py:223-226
    lb = exprs.rowcol_raw(tp, cl, b, zoom, on_edge_use="rt")
    rt = exprs.rowcol_raw(tp, cr, t, zoom, on_edge_use="lb")
    mh = exprs.matrix_height(tp, zoom)
    mw = exprs.matrix_width(tp, zoom)
    neg1 = F.lit(-1).cast("long")
    return F.struct(
        F.when(sane, F.greatest(rt["row"], F.lit(0).cast("long"))).otherwise(F.lit(0).cast("long")).alias("row_min"),
        F.when(sane, F.least(lb["row"], mh - 1)).otherwise(neg1).alias("row_max"),
        F.when(sane, F.greatest(lb["col"], F.lit(0).cast("long"))).otherwise(F.lit(0).cast("long")).alias("col_min"),
        F.when(sane, F.least(rt["col"], mw - 1)).otherwise(neg1).alias("col_max"),
        multi.alias("multi"),
        i1l.alias("i1l"), i1r.alias("i1r"), i2l.alias("i2l"), i2r.alias("i2r"),
    )


def cover_size(ranges: Column) -> Column:
    """Number of candidate tiles for a ranges struct (pre-refinement)."""
    rows = ranges["row_max"] - ranges["row_min"] + 1
    cols = ranges["col_max"] - ranges["col_min"] + 1
    return F.when((rows > 0) & (cols > 0), rows * cols).otherwise(F.lit(0).cast("long"))


def tiles_from_bounds(
    df: DataFrame,
    tp: PyramidConfig,
    zoom: exprs.ZoomLike,
    left: ColumnOrName = "left",
    bottom: ColumnOrName = "bottom",
    right: ColumnOrName = "right",
    top: ColumnOrName = "top",
    out_row: str = "row",
    out_col: str = "col",
    max_cover_tiles: Optional[int] = None,
    oversize: str = "split",
) -> DataFrame:
    """Explode each input row into the tiles its bbox intersects.

    Output: input columns + ``out_row``/``out_col`` (long).  Rows whose bbox
    yields no tiles produce no output rows.  If ``max_cover_tiles`` is set,
    covers above the cap are handled per ``oversize``:

    * ``"split"`` (default): the row range is pre-split into row bands of at
      most ``ceil(max_cover_tiles / cols)`` rows each (a cheap extra explode
      BEFORE the big one), so no single generate step blows past the cap —
      results are complete and identical to the uncapped cover.
    * ``"drop"``: oversized covers are dropped (quarantine; the caller can
      route them to an error sink by testing ``cover_size`` beforehand).

    Behavior change (round 2): the default was effectively ``"drop"`` when
    ``max_cover_tiles`` was introduced; it is now ``"split"`` — capped
    callers that relied on quarantine-drop must pass ``oversize="drop"``
    explicitly or their sinks receive complete (potentially huge per-key)
    covers.

    Intentional relational deviation from the reference: for NON-GLOBAL
    grids, bounds outside the grid are clipped to the matrix range (rows
    fully outside produce no tiles), whereas the reference's
    ``_tiles_from_cleaned_bounds`` raises ``ValueError`` via ``tp.tile``
    (``tilematrix/_funcs.py``).  Raising per-row is not actionable inside a
    billion-row explode; out-of-grid input is data, not a config error.
    """
    if oversize not in ("split", "drop"):
        raise ValueError(f"oversize must be 'split' or 'drop', got {oversize!r}")
    ranges = cover_ranges(tp, zoom, left, bottom, right, top)
    df = df.withColumn("_tmx", ranges)
    if max_cover_tiles is not None and oversize == "drop":
        df = df.withColumn("_tmx_oversize", cover_size(F.col("_tmx")) > max_cover_tiles)
        df = df.filter(~F.col("_tmx_oversize")).drop("_tmx_oversize")

    if max_cover_tiles is not None and oversize == "split":
        # row-band pre-split (SURVEY §4 explode-cap): band_rows rows per
        # band keeps band_rows*cols <= max_cover_tiles (bands of a single
        # row when one row alone exceeds the cap — the col explode is then
        # the irreducible unit).  The band explode emits ~size/cap rows per
        # input row — negligible next to the tile explode it bounds.
        rows_n = F.col("_tmx.row_max") - F.col("_tmx.row_min") + 1
        cols_n = F.col("_tmx.col_max") - F.col("_tmx.col_min") + 1
        band_rows = F.greatest(
            F.floor(F.lit(int(max_cover_tiles)) / cols_n).cast("long"), F.lit(1).cast("long")
        )
        n_bands = F.ceil(rows_n.cast("double") / band_rows.cast("double")).cast("long")
        band = F.explode(
            F.when(
                (rows_n > 0) & (cols_n > 0), F.sequence(F.lit(0).cast("long"), n_bands - 1)
            ).otherwise(F.array().cast("array<long>"))
        )
        df = (
            df.withColumn("_tmx_band", band)
            .withColumn("_tmx_row_lo", F.col("_tmx.row_min") + F.col("_tmx_band") * band_rows)
            .withColumn(
                "_tmx_row_hi",
                F.least(F.col("_tmx.row_min") + (F.col("_tmx_band") + 1) * band_rows - 1, F.col("_tmx.row_max")),
            )
            .drop("_tmx_band")
        )
        row_seq = F.sequence(F.col("_tmx_row_lo"), F.col("_tmx_row_hi"))
        df = df.withColumn(out_row, F.explode(row_seq)).drop("_tmx_row_lo", "_tmx_row_hi")
    else:
        row_seq = F.when(
            F.col("_tmx.row_min") <= F.col("_tmx.row_max"),
            F.sequence(F.col("_tmx.row_min"), F.col("_tmx.row_max")),
        ).otherwise(F.array().cast("array<long>"))
        df = df.withColumn(out_row, F.explode(row_seq))

    col_seq = F.when(
        F.col("_tmx.col_min") <= F.col("_tmx.col_max"),
        F.sequence(F.col("_tmx.col_min"), F.col("_tmx.col_max")),
    ).otherwise(F.array().cast("array<long>"))
    df = df.withColumn(out_col, F.explode(col_seq))

    # multipart antimeridian refinement: closed-interval x-overlap with any
    # union part == prep(union).intersects(tile.bbox()) for boxes
    # (_funcs.py:197-211)
    w = exprs.metatile_x_size(tp, zoom)
    txl = F.lit(tp.left) + F.col(out_col).cast("double") * w
    txr = F.least(txl + w, F.lit(tp.right))
    overlap1 = (txl <= F.col("_tmx.i1r")) & (txr >= F.col("_tmx.i1l"))
    overlap2 = (txl <= F.col("_tmx.i2r")) & (txr >= F.col("_tmx.i2l"))
    keep = F.when(F.col("_tmx.multi"), F.coalesce(overlap1, F.lit(False)) | F.coalesce(overlap2, F.lit(False))).otherwise(F.lit(True))
    return df.filter(keep).drop("_tmx")
