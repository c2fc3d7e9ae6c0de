"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship pipeline on sf0.001.
``queries()`` — one entry per implemented operator (SURVEY.md §2), each a
callable (spark, sf_dir) -> DataFrame built from the engine operators in
``tilematrix_spark``.
``oracle_sql()`` — ANSI-SQL equivalents for DuckDB over the same parquet
tables.  Both derive from the ordered ``QUERIES`` registry at the end of
this file, which declares each query once.  Float parity notes: every SQL literal is cast ``::DOUBLE`` (DuckDB
parses decimal literals as DECIMAL), ``fmod`` mirrors Spark's double ``%``,
``trunc`` mirrors CAST-to-long truncation, and md5-hex strings are the
portable hash primitive.  Geo coordinates are derived deterministically from
ids via the golden-ratio scatter so both engines compute bit-identical
doubles.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tilematrix_spark import exprs
from tilematrix_spark.functions import dedup as dedupfns
from tilematrix_spark.functions import multimodal as mmfns
from tilematrix_spark.functions import sampling as samplefns
from tilematrix_spark.functions import similarity as simfns
from tilematrix_spark.functions import text as textfns
from tilematrix_spark.functions import windows as winfns
from tilematrix_spark.grid import PyramidConfig
from tilematrix_spark.operators import assign, cover, hierarchy, knn

GEODETIC = PyramidConfig.create("geodetic")
PHI1 = 0.7548776662466927  # R2 low-discrepancy: 1/plastic-number
PHI2 = 0.5698402909980532  # 1/plastic-number^2 (independent of PHI1 mod 1)

# geodetic z-scalars used in oracle SQL (exact binary doubles)
TOP, BOTTOM, LEFT, RIGHT = 90.0, -90.0, -180.0, 180.0


def _d(x: float) -> str:
    """Exact DOUBLE literal for DuckDB."""
    return f"({x!r})::DOUBLE"


def _tile_size(zoom: int) -> float:
    return GEODETIC.tile_y_size(zoom)  # == tile_x_size on geodetic


def _with_lonlat(df: DataFrame, id_col: str = "event_id") -> DataFrame:
    """The golden-ratio (R2) lon/lat scatter — the ONE definition shared by
    every batch and streaming query (and mirrored by _EVENTS_SQL)."""
    lon = F.lit(-180.0) + (F.col(id_col) * F.lit(PHI1)) % F.lit(1.0) * F.lit(360.0)
    lat = F.lit(-90.0) + (F.col(id_col) * F.lit(PHI2)) % F.lit(1.0) * F.lit(180.0)
    return df.withColumn("lon", lon).withColumn("lat", lat)


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _with_lonlat(spark.read.parquet(f"{sf_dir}/events.parquet"))


_EVENTS_SQL = f"""
  SELECT event_id, user_id, event_type, value,
         {_d(-180.0)} + fmod(event_id * {_d(PHI1)}, {_d(1.0)}) * {_d(360.0)} AS lon,
         {_d(-90.0)} + fmod(event_id * {_d(PHI2)}, {_d(1.0)}) * {_d(180.0)} AS lat
  FROM events
"""


def _tiles_sql(zoom: int, source: str = "pts", tp: PyramidConfig = GEODETIC) -> str:
    """SQL mirror of exprs.tile_from_xy (on_edge_use='rb') at ``zoom`` on
    ``tp`` (metatiling-aware: hx/hy are the metatile map-unit sizes)."""
    hx = _d(tp.tile_x_size(zoom))
    hy = _d(tp.tile_y_size(zoom))
    mw = tp.matrix_width(zoom)
    mh = tp.matrix_height(zoom)
    return f"""
      SELECT *,
        CAST(trunc(({_d(TOP)} - lat) / {hy}) AS BIGINT) AS tile_row,
        CASE
          WHEN CAST(trunc((lon - {_d(LEFT)}) / {hx}) AS BIGINT) = -1 THEN {mw - 1}
          WHEN CAST(trunc((lon - {_d(LEFT)}) / {hx}) AS BIGINT) >= {mw}
            THEN CAST(trunc((lon - {_d(LEFT)}) / {hx}) AS BIGINT) % {mw}
          ELSE CAST(trunc((lon - {_d(LEFT)}) / {hx}) AS BIGINT)
        END AS tile_col
      FROM {source}
      WHERE lon >= {_d(LEFT)} AND lon <= {_d(RIGHT)}
        AND lat >= {_d(BOTTOM)} AND lat <= {_d(TOP)}
    """


def _valid_sql(zoom: int, tp: PyramidConfig = GEODETIC) -> str:
    mw = tp.matrix_width(zoom)
    mh = tp.matrix_height(zoom)
    return f"tile_row >= 0 AND tile_row < {mh} AND tile_col >= 0 AND tile_col < {mw}"


# ---------------------------------------------------------------------------
# query builders (Spark side uses the engine operators)
# ---------------------------------------------------------------------------

def q_point_tile_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O18 point->tile assignment + salted per-tile aggregation (zoom 5)."""
    pts = _events(spark, sf_dir)
    tiled = assign.with_tile(pts, GEODETIC, 5, "lon", "lat", out_row="tile_row", out_col="tile_col", out_tile_id=None)
    return assign.salted_agg(tiled, ["tile_row", "tile_col"], {"n": "count:*"}, salt_buckets=16)


def sql_point_tile_counts() -> str:
    return f"""
      WITH pts AS ({_EVENTS_SQL}), tiled AS ({_tiles_sql(5)})
      SELECT tile_row, tile_col, count(*) AS n
      FROM tiled WHERE {_valid_sql(5)}
      GROUP BY tile_row, tile_col
    """


def q_tile_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O8/O10 tile bounds (zoom 5) for the distinct tiles hit by events."""
    tiles = q_point_tile_counts(spark, sf_dir).select("tile_row", "tile_col")
    b = exprs.tile_bounds(GEODETIC, 5, "tile_row", "tile_col")
    return tiles.select(
        "tile_row", "tile_col",
        b["left"].alias("left"), b["bottom"].alias("bottom"),
        b["right"].alias("right"), b["top"].alias("top"),
    )


def sql_tile_bounds() -> str:
    h = _d(_tile_size(5))
    return f"""
      WITH pts AS ({_EVENTS_SQL}), tiled AS ({_tiles_sql(5)}),
      tiles AS (
        SELECT tile_row, tile_col FROM tiled WHERE {_valid_sql(5)}
        GROUP BY tile_row, tile_col
      )
      SELECT tile_row, tile_col,
        {_d(LEFT)} + tile_col * {h} AS left,
        greatest(({_d(TOP)} - tile_row * {h}) - {h}, {_d(BOTTOM)}) AS bottom,
        least(({_d(LEFT)} + tile_col * {h}) + {h}, {_d(RIGHT)}) AS right,
        {_d(TOP)} - tile_row * {h} AS top
      FROM tiles
    """


def q_tile_affine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O12 per-tile affine transform (pixelbuffer=4): the 6 coefficients
    (px, 0, left_buffered, 0, -py, top_buffered) of `_tile.py:126-139` as
    flat DOUBLE columns for the distinct z5 tiles hit by events."""
    tiles = q_point_tile_counts(spark, sf_dir).select("tile_row", "tile_col")
    a = exprs.tile_affine(GEODETIC, 5, "tile_row", "tile_col", 4)
    # getItem (GetArrayItem), not element_at: Catalyst fully simplifies
    # GetArrayItem(CreateArray, lit) so the agg result projection stays in
    # whole-stage codegen; element_at's nullable wrapper survives into the
    # HashAggregate and trips a janino scope bug (interpreted fallback).
    return tiles.select(
        "tile_row", "tile_col",
        *[a.getItem(i).alias(c) for i, c in enumerate("abcdef")],
    )


def sql_tile_affine() -> str:
    h = _d(_tile_size(5))
    px = _d(GEODETIC.pixel_x_size(5))
    off = f"({px} * {_d(4.0)})"
    return f"""
      WITH pts AS ({_EVENTS_SQL}), tiled AS ({_tiles_sql(5)}),
      tiles AS (
        SELECT tile_row, tile_col FROM tiled WHERE {_valid_sql(5)}
        GROUP BY tile_row, tile_col
      )
      SELECT tile_row, tile_col,
        {px} AS a, {_d(0.0)} AS b,
        ({_d(LEFT)} + tile_col * {h}) - {off} AS c,
        {_d(0.0)} AS d, -{px} AS e,
        least(({_d(TOP)} - tile_row * {h}) + {off}, {_d(TOP)}) AS f
      FROM tiles
    """


def q_tile_shape_pixelbuffer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O13 tile pixel shapes with pixelbuffer=10 (global-grid edge rules)."""
    tiles = q_point_tile_counts(spark, sf_dir).select("tile_row", "tile_col")
    s = exprs.tile_shape(GEODETIC, 5, "tile_row", "tile_col", 10)
    return tiles.select(
        "tile_row", "tile_col",
        s["height"].cast("long").alias("height"), s["width"].cast("long").alias("width"),
    )


def sql_tile_shape_pixelbuffer() -> str:
    mh = GEODETIC.matrix_height(5)
    return f"""
      WITH pts AS ({_EVENTS_SQL}), tiled AS ({_tiles_sql(5)}),
      tiles AS (
        SELECT tile_row, tile_col FROM tiled WHERE {_valid_sql(5)}
        GROUP BY tile_row, tile_col
      )
      SELECT tile_row, tile_col,
        CASE WHEN tile_row IN (0, {mh - 1}) THEN 266 ELSE 276 END::BIGINT AS height,
        276::BIGINT AS width
      FROM tiles
    """


def _py_tile_shape(tp: PyramidConfig, z: int, row: int, col: int, pb: int):
    """Pure-Python mirror of the reference shape rules (_tile.py:24-53,
    141-157): metatile edge clipping + pixelbuffer + global-grid first/last
    row and single-row-matrix rules.  Python round() is half-even ==
    Spark bround."""
    px, py = tp.pixel_x_size(z), tp.pixel_y_size(z)
    h, w = tp.tile_y_size(z), tp.tile_x_size(z)
    top = tp.top - row * h
    bottom = max(top - h, tp.bottom)
    left = tp.left + col * w
    right = min(left + w, tp.right)
    base_h = int(round((top - bottom) / py))
    base_w = int(round((right - left) / px))
    height, width = base_h + 2 * pb, base_w + 2 * pb
    mh = tp.matrix_height(z)
    if tp.is_global and pb != 0:
        if mh == 1:
            height = base_h
        elif row in (0, mh - 1):
            height = base_h + pb
    return height, width


def q_tile_shape_metatile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O7/O13 combined: metatile EDGE CLIPPING (a zoom-0..1 metatile-4 tile
    is smaller than tile_size*mt) with pixelbuffer rules, every tile of
    zooms 0..4 on the mt4 geodetic pyramid (reference test_tile_shapes
    combined cases)."""
    tp4 = PyramidConfig.create("geodetic", metatiling=4)
    out = None
    for z in range(5):
        mh, mw = tp4.matrix_height(z), tp4.matrix_width(z)
        tiles = (
            spark.range(mh).select(F.col("id").alias("tile_row"))
            .crossJoin(spark.range(mw).select(F.col("id").alias("tile_col")))
        )
        s = exprs.tile_shape(tp4, z, "tile_row", "tile_col", 8)
        t = tiles.select(
            F.lit(z).alias("zoom"), "tile_row", "tile_col",
            s["height"].cast("long").alias("height"),
            s["width"].cast("long").alias("width"),
        )
        out = t if out is None else out.unionByName(t)
    return out


def sql_tile_shape_metatile() -> str:
    tp4 = PyramidConfig.create("geodetic", metatiling=4)
    rows = []
    for z in range(5):
        for row in range(tp4.matrix_height(z)):
            for col in range(tp4.matrix_width(z)):
                hh, ww = _py_tile_shape(tp4, z, row, col, 8)
                rows.append(f"({z}, {row}, {col}, {hh}, {ww})")
    values = ", ".join(rows)
    return f"""
      SELECT CAST(zoom AS INTEGER) AS zoom,
             CAST(tile_row AS BIGINT) AS tile_row, CAST(tile_col AS BIGINT) AS tile_col,
             CAST(height AS BIGINT) AS height, CAST(width AS BIGINT) AS width
      FROM (VALUES {values}) AS t(zoom, tile_row, tile_col, height, width)
    """


def q_matrix_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2-O5 matrix dimensions and pixel sizes, zooms 0..10."""
    zooms = spark.range(0, 11).select(F.col("id").cast("int").alias("zoom"))
    return zooms.select(
        "zoom",
        exprs.matrix_width(GEODETIC, F.col("zoom")).alias("mw"),
        exprs.matrix_height(GEODETIC, F.col("zoom")).alias("mh"),
        exprs.pixel_x_size(GEODETIC, F.col("zoom")).alias("px"),
        exprs.pixel_y_size(GEODETIC, F.col("zoom")).alias("py"),
    )


def sql_matrix_dims() -> str:
    return f"""
      WITH z AS (SELECT unnest(generate_series(0, 10)) AS zoom)
      SELECT zoom::INTEGER AS zoom,
        greatest(1, CAST(ceil({_d(2.0)} * power({_d(2.0)}, zoom) / {_d(1.0)}) AS BIGINT)) AS mw,
        greatest(1, CAST(ceil({_d(1.0)} * power({_d(2.0)}, zoom) / {_d(1.0)}) AS BIGINT)) AS mh,
        {_d(360.0)} / ({_d(2.0)} * power({_d(2.0)}, zoom) * {_d(256.0)}) AS px,
        {_d(180.0)} / ({_d(1.0)} * power({_d(2.0)}, zoom) * {_d(256.0)}) AS py
      FROM z
    """


def q_parent_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O14 zoom-up rollup: z6 tile counts aggregated to z5 parents."""
    pts = _events(spark, sf_dir)
    tiled = assign.with_tile(pts, GEODETIC, 6, "lon", "lat", out_row="r6", out_col="c6", out_tile_id=None)
    p = hierarchy.parent(6, "r6", "c6")
    return (
        tiled.select(p["row"].alias("tile_row"), p["col"].alias("tile_col"))
        .groupBy("tile_row", "tile_col")
        .agg(F.count("*").alias("n"))
    )


def sql_parent_rollup() -> str:
    return f"""
      WITH pts AS ({_EVENTS_SQL}),
      tiled AS ({_tiles_sql(6)})
      SELECT tile_row // 2 AS tile_row, tile_col // 2 AS tile_col, count(*) AS n
      FROM tiled WHERE {_valid_sql(6)}
      GROUP BY 1, 2
    """


def q_children(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O15 children explode of the distinct z4 tiles hit by events."""
    pts = _events(spark, sf_dir)
    tiled = assign.with_tile(pts, GEODETIC, 4, "lon", "lat", out_tile_id=None)
    tiles = tiled.select(F.lit(4).alias("zoom"), "row", "col").distinct()
    out = hierarchy.children(tiles, GEODETIC, "zoom", "row", "col")
    return out.select(
        F.col("row").alias("tile_row"), F.col("col").alias("tile_col"),
        F.col("child_row"), F.col("child_col"),
    )


def sql_children() -> str:
    mh5, mw5 = GEODETIC.matrix_height(5), GEODETIC.matrix_width(5)
    return f"""
      WITH pts AS ({_EVENTS_SQL}), tiled AS ({_tiles_sql(4)}),
      tiles AS (SELECT DISTINCT tile_row, tile_col FROM tiled WHERE {_valid_sql(4)}),
      offs AS (SELECT * FROM (VALUES (0,0),(0,1),(1,1),(1,0)) AS t(dr, dc))
      SELECT tile_row, tile_col,
             tile_row * 2 + dr AS child_row, tile_col * 2 + dc AS child_col
      FROM tiles CROSS JOIN offs
      WHERE tile_row * 2 + dr < {mh5} AND tile_col * 2 + dc < {mw5}
    """


def q_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O16 8-connected neighbors (antimeridian wrap) of distinct z5 tiles."""
    pts = _events(spark, sf_dir)
    tiled = assign.with_tile(pts, GEODETIC, 5, "lon", "lat", out_tile_id=None)
    tiles = tiled.select(F.lit(5).alias("zoom"), "row", "col").distinct()
    out = hierarchy.neighbors(tiles, GEODETIC, "zoom", "row", "col")
    return out.select(
        F.col("row").alias("tile_row"), F.col("col").alias("tile_col"),
        F.col("neighbor_row"), F.col("neighbor_col"),
    )


def sql_neighbors() -> str:
    mh, mw = GEODETIC.matrix_height(5), GEODETIC.matrix_width(5)
    return f"""
      WITH pts AS ({_EVENTS_SQL}), tiled AS ({_tiles_sql(5)}),
      tiles AS (SELECT DISTINCT tile_row, tile_col FROM tiled WHERE {_valid_sql(5)}),
      offs AS (SELECT * FROM (VALUES (-1,0),(0,1),(1,0),(0,-1),(-1,1),(1,1),(1,-1),(-1,-1)) AS t(dr, dc))
      SELECT DISTINCT tile_row, tile_col,
             tile_row + dr AS neighbor_row,
             ((tile_col + dc) % {mw} + {mw}) % {mw} AS neighbor_col
      FROM tiles CROSS JOIN offs
      WHERE tile_row + dr >= 0 AND tile_row + dr < {mh}
        AND NOT (tile_row + dr = tile_row AND ((tile_col + dc) % {mw} + {mw}) % {mw} = tile_col)
    """


def _event_boxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-event bboxes, ~2% crossing the antimeridian."""
    pts = _events(spark, sf_dir).filter(F.col("event_id") % 20 == 0)
    w = F.lit(2.0) + (F.col("event_id") % 7).cast("double")
    h = F.lit(1.0) + (F.col("event_id") % 5).cast("double")
    left = F.when(F.col("event_id") % 50 == 0, F.lit(178.0)).otherwise(F.col("lon"))
    return pts.select(
        "event_id",
        left.alias("bl"),
        F.greatest(F.col("lat") - h, F.lit(-90.0)).alias("bb"),
        (left + w).alias("br"),
        F.least(F.col("lat") + h, F.lit(90.0)).alias("bt"),
    )


_EVENT_BOXES_SQL = f"""
  SELECT event_id,
    CASE WHEN event_id % 50 = 0 THEN {_d(178.0)} ELSE lon END AS bl,
    greatest(lat - ({_d(1.0)} + CAST(event_id % 5 AS DOUBLE)), {_d(-90.0)}) AS bb,
    (CASE WHEN event_id % 50 = 0 THEN {_d(178.0)} ELSE lon END)
      + ({_d(2.0)} + CAST(event_id % 7 AS DOUBLE)) AS br,
    least(lat + ({_d(1.0)} + CAST(event_id % 5 AS DOUBLE)), {_d(90.0)}) AS bt
  FROM ({_EVENTS_SQL}) WHERE event_id % 20 = 0
"""


def q_cover_bbox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O25-O27 range-explode bbox cover at z4 incl. antimeridian split."""
    boxes = _event_boxes(spark, sf_dir)
    out = cover.tiles_from_bounds(boxes, GEODETIC, 4, left="bl", bottom="bb", right="br", top="bt", out_row="tile_row", out_col="tile_col")
    return out.select("event_id", "tile_row", "tile_col")


def _cover_sql(boxes_sql: str, zoom: int, tp: PyramidConfig, id_col: str = "event_id") -> str:
    """Generic SQL mirror of cover.cover_ranges + tiles_from_bounds for ANY
    pyramid (bounds, metatiling, global or not): global grids clamp y and
    handle antimeridian crossing/multipart intervals; non-global grids pass
    bounds through raw (clipping happens at the matrix-range clamp, like
    the engine).  ``hx``/``hy`` are the metatile map-unit sizes."""
    hx = _d(tp.tile_x_size(zoom))
    hy = _d(tp.tile_y_size(zoom))
    mw = tp.matrix_width(zoom)
    mh = tp.matrix_height(zoom)
    T, B, L, R = _d(tp.top), _d(tp.bottom), _d(tp.left), _d(tp.right)
    r2 = _d(tp.right - tp.left)
    if tp.is_global:
        base = f"""
            SELECT {id_col},
              least(bt, {T}) AS ct,
              greatest(bb, {B}) AS cb,
              (bl < {L} OR br > {R}) AS crossing,
              (bl < {L}) AS west, (br > {R}) AS east,
              CASE WHEN (bl < {L} OR br > {R}) THEN {L} ELSE bl END AS cl,
              CASE WHEN (bl < {L} OR br > {R}) THEN {R} ELSE br END AS cr,
              ((bl < {L}) <> (br > {R})) AND (br < bl + {r2}) AS multi,
              CASE WHEN bl < {L} AND br <= {R} THEN bl + {r2}
                   WHEN br > {R} AND bl >= {L} THEN {L} END AS i1l,
              CASE WHEN bl < {L} AND br <= {R} THEN {R}
                   WHEN br > {R} AND bl >= {L} THEN br - {r2} END AS i1r,
              CASE WHEN bl < {L} AND br <= {R} THEN {L}
                   WHEN br > {R} AND bl >= {L} THEN bl END AS i2l,
              CASE WHEN bl < {L} AND br <= {R} THEN br
                   WHEN br > {R} AND bl >= {L} THEN {R} END AS i2r
            FROM boxes
        """
        colmax_wrap = f"""
            CASE
              WHEN cr_col = -1 THEN {mw - 1}
              WHEN cr_col >= {mw} THEN cr_col % {mw}
              ELSE cr_col END
        """
    else:
        base = f"""
            SELECT {id_col},
              bt AS ct, bb AS cb,
              FALSE AS multi,
              NULL::DOUBLE AS i1l, NULL::DOUBLE AS i1r,
              NULL::DOUBLE AS i2l, NULL::DOUBLE AS i2r,
              bl AS cl, br AS cr
            FROM boxes
        """
        colmax_wrap = "cr_col"
    return f"""
      WITH boxes AS ({boxes_sql}),
      rng AS (
        SELECT {id_col}, multi, i1l, i1r, i2l, i2r,
          greatest(CAST(trunc(({T} - ct) / {hy}) AS BIGINT), 0) AS row_min,
          least(
            CAST(trunc(({T} - cb) / {hy}) AS BIGINT)
              - CASE WHEN fmod({T} - cb, {hy}) = {_d(0.0)} THEN 1 ELSE 0 END,
            {mh - 1}) AS row_max,
          greatest(CAST(trunc((cl - {L}) / {hx}) AS BIGINT), 0) AS col_min,
          least({colmax_wrap}, {mw - 1}) AS col_max
        FROM (
          SELECT {id_col}, multi, i1l, i1r, i2l, i2r, cl, cr, ct, cb,
            CAST(trunc((cr - {L}) / {hx}) AS BIGINT)
              - CASE WHEN fmod(cr - {L}, {hx}) = {_d(0.0)} THEN 1 ELSE 0 END AS cr_col
          FROM (
            {base}
          )
        )
      ),
      rows_exp AS (
        SELECT {id_col}, multi, i1l, i1r, i2l, i2r, col_min, col_max,
               unnest(generate_series(row_min, row_max)) AS tile_row
        FROM rng WHERE row_min <= row_max
      ),
      cells AS (
        SELECT {id_col}, multi, i1l, i1r, i2l, i2r, tile_row,
               unnest(generate_series(col_min, col_max)) AS tile_col
        FROM rows_exp WHERE col_min <= col_max
      )
      SELECT {id_col}, tile_row, tile_col FROM cells
      WHERE NOT multi
         OR (({L} + tile_col * {hx}) <= i1r
             AND least(({L} + tile_col * {hx}) + {hx}, {R}) >= i1l)
         OR (({L} + tile_col * {hx}) <= i2r
             AND least(({L} + tile_col * {hx}) + {hx}, {R}) >= i2l)
    """


def sql_cover_bbox() -> str:
    return _cover_sql(_EVENT_BOXES_SQL, 4, GEODETIC)


def q_cover_multizoom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O25-O27 with a PER-ROW zoom column (3 + id % 3): one cover pass
    enumerates tiles across zoom levels simultaneously — the single-pass
    multi-zoom pyramid shape (exercises the pow-expression path of
    cover_ranges instead of driver-side literals)."""
    boxes = _event_boxes(spark, sf_dir).filter(
        (F.col("bl") >= -180.0) & (F.col("br") <= 180.0)
    ).withColumn("zoom", (F.lit(3) + F.col("event_id") % 3).cast("int"))
    out = cover.tiles_from_bounds(
        boxes, GEODETIC, F.col("zoom"),
        left="bl", bottom="bb", right="br", top="bt",
        out_row="tile_row", out_col="tile_col",
    )
    return out.select("event_id", "zoom", "tile_row", "tile_col")


def sql_cover_multizoom() -> str:
    # per-row zoom mirrors of exprs.metatile_{x,y}_size / matrix dims
    # (identical VALUES on geodetic, but mirrored with their own shapes)
    hy = (
        f"(({_d(180.0)} / (({_d(1.0)} * power({_d(2.0)}, zoom)) * {_d(256.0)}))"
        f" * {_d(256.0)}) * {_d(1.0)}"
    )
    wx = (
        f"(({_d(360.0)} / (({_d(2.0)} * power({_d(2.0)}, zoom)) * {_d(256.0)}))"
        f" * {_d(256.0)}) * {_d(1.0)}"
    )
    mw = f"greatest(1, CAST(ceil({_d(2.0)} * power({_d(2.0)}, zoom) / {_d(1.0)}) AS BIGINT))"
    mh = f"greatest(1, CAST(ceil({_d(1.0)} * power({_d(2.0)}, zoom) / {_d(1.0)}) AS BIGINT))"
    return f"""
      WITH boxes AS (
        SELECT *, CAST(3 + event_id % 3 AS INTEGER) AS zoom
        FROM ({_EVENT_BOXES_SQL})
        WHERE bl >= {_d(LEFT)} AND br <= {_d(RIGHT)}
      ),
      rng AS (
        SELECT event_id, zoom,
          greatest(CAST(trunc(({_d(TOP)} - least(bt, {_d(TOP)})) / ({hy})) AS BIGINT), 0) AS row_min,
          least(
            CAST(trunc(({_d(TOP)} - greatest(bb, {_d(BOTTOM)})) / ({hy})) AS BIGINT)
              - CASE WHEN fmod({_d(TOP)} - greatest(bb, {_d(BOTTOM)}), ({hy})) = {_d(0.0)} THEN 1 ELSE 0 END,
            {mh} - 1) AS row_max,
          greatest(CAST(trunc((bl - {_d(LEFT)}) / ({wx})) AS BIGINT), 0) AS col_min,
          least(
            CASE
              WHEN cr_col = -1 THEN {mw} - 1
              WHEN cr_col >= {mw} THEN cr_col % ({mw})
              ELSE cr_col END,
            {mw} - 1) AS col_max
        FROM (
          SELECT *,
            CAST(trunc((br - {_d(LEFT)}) / ({wx})) AS BIGINT)
              - CASE WHEN fmod(br - {_d(LEFT)}, ({wx})) = {_d(0.0)} THEN 1 ELSE 0 END AS cr_col
          FROM boxes
        )
      ),
      rows_exp AS (
        SELECT event_id, zoom, col_min, col_max,
               unnest(generate_series(row_min, row_max)) AS tile_row
        FROM rng WHERE row_min <= row_max
      )
      SELECT event_id, zoom, tile_row,
             unnest(generate_series(col_min, col_max)) AS tile_col
      FROM rows_exp WHERE col_min <= col_max
    """


def q_snap_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O19 snap_bounds of event bboxes (z6, in-grid boxes only)."""
    boxes = _event_boxes(spark, sf_dir).filter(
        (F.col("bl") >= -180.0) & (F.col("br") <= 180.0)
    )
    s = exprs.snap_bounds(GEODETIC, "bl", "bb", "br", "bt", 6)
    return boxes.select(
        "event_id",
        s["left"].alias("snap_left"), s["bottom"].alias("snap_bottom"),
        s["right"].alias("snap_right"), s["top"].alias("snap_top"),
    )


def sql_snap_bounds() -> str:
    zoom = 6
    h = _d(_tile_size(zoom))
    return f"""
      WITH boxes AS (
        SELECT * FROM ({_EVENT_BOXES_SQL})
        WHERE bl >= {_d(LEFT)} AND br <= {_d(RIGHT)}
      ),
      corners AS (
        SELECT event_id,
          CAST(trunc(({_d(TOP)} - bb) / {h}) AS BIGINT)
            - CASE WHEN fmod({_d(TOP)} - bb, {h}) = {_d(0.0)} THEN 1 ELSE 0 END AS lb_row,
          CAST(trunc((bl - {_d(LEFT)}) / {h}) AS BIGINT) AS lb_col,
          CAST(trunc(({_d(TOP)} - bt) / {h}) AS BIGINT) AS rt_row,
          CAST(trunc((br - {_d(LEFT)}) / {h}) AS BIGINT)
            - CASE WHEN fmod(br - {_d(LEFT)}, {h}) = {_d(0.0)} THEN 1 ELSE 0 END AS rt_col
        FROM boxes
      )
      SELECT event_id,
        {_d(LEFT)} + lb_col * {h} AS snap_left,
        greatest(greatest(({_d(TOP)} - lb_row * {h}) - {h}, {_d(BOTTOM)}), {_d(BOTTOM)}) AS snap_bottom,
        least(least(({_d(LEFT)} + rt_col * {h}) + {h}, {_d(RIGHT)}), {_d(RIGHT)}) AS snap_right,
        least({_d(TOP)} - rt_row * {h}, {_d(TOP)}) AS snap_top
      FROM corners
    """


def q_intersecting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O17 cross-pyramid translation: z5 mt2 tiles -> mt1 subtiles."""
    pts = _events(spark, sf_dir)
    tp2 = PyramidConfig.create("geodetic", metatiling=2)
    tiled = assign.with_tile(pts, tp2, 5, "lon", "lat", out_tile_id=None)
    tiles = tiled.select(F.lit(5).alias("zoom"), "row", "col").distinct()
    out = hierarchy.intersecting(tiles, tp2, GEODETIC, "zoom", "row", "col")
    return out.select(
        F.col("row").alias("tile_row"), F.col("col").alias("tile_col"),
        F.col("target_row"), F.col("target_col"),
    )


def sql_intersecting() -> str:
    tp2 = PyramidConfig.create("geodetic", metatiling=2)
    h = _d(tp2.tile_y_size(5))
    mw2, mh2 = tp2.matrix_width(5), tp2.matrix_height(5)
    mw1, mh1 = GEODETIC.matrix_width(5), GEODETIC.matrix_height(5)
    return f"""
      WITH pts AS ({_EVENTS_SQL}),
      tiled AS (
        SELECT *,
          CAST(trunc(({_d(TOP)} - lat) / {h}) AS BIGINT) AS tile_row,
          CASE
            WHEN CAST(trunc((lon - {_d(LEFT)}) / {h}) AS BIGINT) = -1 THEN {mw2 - 1}
            WHEN CAST(trunc((lon - {_d(LEFT)}) / {h}) AS BIGINT) >= {mw2}
              THEN CAST(trunc((lon - {_d(LEFT)}) / {h}) AS BIGINT) % {mw2}
            ELSE CAST(trunc((lon - {_d(LEFT)}) / {h}) AS BIGINT)
          END AS tile_col
        FROM pts
        WHERE lon >= {_d(LEFT)} AND lon <= {_d(RIGHT)} AND lat >= {_d(BOTTOM)} AND lat <= {_d(TOP)}
      ),
      tiles AS (
        SELECT DISTINCT tile_row, tile_col FROM tiled
        WHERE tile_row >= 0 AND tile_row < {mh2} AND tile_col >= 0 AND tile_col < {mw2}
      ),
      offs AS (SELECT * FROM (VALUES (0,0),(0,1),(1,0),(1,1)) AS t(dr, dc))
      SELECT tile_row, tile_col,
             tile_row * 2 + dr AS target_row, tile_col * 2 + dc AS target_col
      FROM tiles CROSS JOIN offs
      WHERE tile_row * 2 + dr < {mh1} AND tile_col * 2 + dc < {mw1}
    """


def q_intersecting_down(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O17 cross-pyramid translation, DOWNSCALE direction (mt1 -> mt2,
    ratio < 1: pure ``int(ratio*index)`` projection, _funcs.py:153-157)."""
    pts = _events(spark, sf_dir)
    tiled = assign.with_tile(pts, GEODETIC, 5, "lon", "lat", out_tile_id=None)
    tiles = tiled.select(F.lit(5).alias("zoom"), "row", "col").distinct()
    tp2 = PyramidConfig.create("geodetic", metatiling=2)
    out = hierarchy.intersecting(tiles, GEODETIC, tp2, "zoom", "row", "col")
    return out.select(
        F.col("row").alias("tile_row"), F.col("col").alias("tile_col"),
        F.col("target_row").cast("long").alias("target_row"),
        F.col("target_col").cast("long").alias("target_col"),
    )


def sql_intersecting_down() -> str:
    return f"""
      WITH pts AS ({_EVENTS_SQL}), tiled AS ({_tiles_sql(5)}),
      tiles AS (
        SELECT DISTINCT tile_row, tile_col FROM tiled WHERE {_valid_sql(5)}
      )
      SELECT tile_row, tile_col,
             tile_row // 2 AS target_row, tile_col // 2 AS target_col
      FROM tiles
    """


def q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O30 k-ring kNN: 40 query points vs all event points, k=3."""
    pts = _events(spark, sf_dir).select(
        F.col("event_id").alias("pid"), "lon", "lat"
    )
    queries = pts.filter(F.col("pid") % 157 == 3).select(
        F.col("pid").alias("qid"), "lon", "lat"
    )
    out = knn.knn_join(queries, pts, GEODETIC, zoom=4, k=3, query_id="qid", point_id="pid")
    return out.select("qid", "pid", F.col("rank").cast("int").alias("rank"))


def q_knn_sparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The wide-radius kNN path made gate-visible: a sparse point set
    (~1 point per 40 z6 tiles) cannot satisfy k=3 inside ring 1, so the
    density-bounded search disc spans many tiles around each query —
    value-gated against the same brute-force oracle as the dense case."""
    pts = _events(spark, sf_dir).filter(F.col("event_id") % 53 == 0).select(
        F.col("event_id").alias("pid"), "lon", "lat"
    )
    queries = pts.filter(F.col("pid") % 265 == 0).select(
        F.col("pid").alias("qid"), "lon", "lat"
    )
    out = knn.knn_join(queries, pts, GEODETIC, zoom=6, k=3, query_id="qid", point_id="pid")
    return out.select("qid", "pid", F.col("rank").cast("int").alias("rank"))


def sql_knn(pts_filter: str = "TRUE", q_filter: str = "pid % 157 = 3") -> str:
    span = _d(RIGHT - LEFT)
    return f"""
      WITH pts AS (
        SELECT event_id AS pid, lon, lat FROM ({_EVENTS_SQL}) WHERE {pts_filter}
      ),
      valid AS (
        SELECT * FROM pts
        WHERE lon >= {_d(LEFT)} AND lon <= {_d(RIGHT)} AND lat >= {_d(BOTTOM)} AND lat <= {_d(TOP)}
          AND NOT (lat = {_d(BOTTOM)})
      ),
      queries AS (SELECT pid AS qid, lon AS qx, lat AS qy FROM valid WHERE {q_filter}),
      ranked AS (
        SELECT q.qid, p.pid,
          row_number() OVER (
            PARTITION BY q.qid
            ORDER BY sqrt(least(abs(q.qx - p.lon), {span} - abs(q.qx - p.lon))
                          * least(abs(q.qx - p.lon), {span} - abs(q.qx - p.lon))
                          + (q.qy - p.lat) * (q.qy - p.lat)) ASC,
                     p.pid ASC
          ) AS rank
        FROM queries q CROSS JOIN valid p
      )
      SELECT qid, pid, rank::INTEGER AS rank FROM ranked WHERE rank <= 3
    """


def sql_knn_sparse() -> str:
    return sql_knn(pts_filter="event_id % 53 = 0", q_filter="pid % 265 = 0")


def q_events_topk_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window top-k: top-3 events by value per user (deterministic ties)."""
    from pyspark.sql import Window

    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        df.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 3)
        .select("user_id", "event_id", "rank")
    )


def sql_events_topk_window() -> str:
    return """
      SELECT user_id, event_id, rank::INTEGER AS rank FROM (
        SELECT user_id, event_id,
               row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS rank
        FROM events
      ) WHERE rank <= 3
    """


def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time sessionization: per-user sessions split at gaps > 30 min,
    microsecond-precision gap comparison, deterministic tie order
    (functions/windows.sessionize — one shuffle on user_id, codegen'd
    running-sum window)."""
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = winfns.sessionize(df, gap_s=1800)
    return out.select(
        "user_id",
        F.col("session_idx").cast("long").alias("session_idx"),
        "n_events",
        "start_us",
        "end_us",
        "duration_us",
    )


def sql_user_sessions() -> str:
    return """
      WITH flagged AS (
        SELECT user_id, event_id, epoch_us(ts) AS us,
          CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
               THEN 1 ELSE 0 END AS gap_flag
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ),
      sessioned AS (
        SELECT user_id, us,
          sum(gap_flag) OVER (PARTITION BY user_id ORDER BY us, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS session_idx
        FROM flagged
      )
      SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
             count(*) AS n_events, min(us) AS start_us, max(us) AS end_us,
             max(us) - min(us) AS duration_us
      FROM sessioned GROUP BY user_id, session_idx
    """


def q_tile_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tile exact value percentiles (p50/p90) at z3 — bounded group
    count (128 tiles), linear-interpolation definition shared with DuckDB's
    quantile_cont.  exact=False switches to t-digest percentile_approx for
    unbounded groups (high zooms)."""
    pts = _events(spark, sf_dir)
    tiled = assign.with_tile(
        pts, GEODETIC, 3, "lon", "lat",
        out_row="tile_row", out_col="tile_col", out_tile_id=None,
    )
    return winfns.grouped_quantiles(
        tiled, ["tile_row", "tile_col"], "value", probs=(0.5, 0.9)
    )


def sql_tile_quantiles() -> str:
    return f"""
      WITH pts0 AS ({_EVENTS_SQL}),
      pts AS (SELECT * FROM pts0 WHERE NOT (lat = {_d(BOTTOM)})),
      tiled AS ({_tiles_sql(3)})
      SELECT tile_row, tile_col, count(*) AS n,
             round(quantile_cont(value, 0.5), 6) AS p50,
             round(quantile_cont(value, 0.9), 6) AS p90
      FROM tiled GROUP BY tile_row, tile_col
    """


# -- documents: dedup / text analysis ---------------------------------------

_NORM_SQL = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"
_TOKENS_SQL = f"string_split({_NORM_SQL}, ' ')"


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups by md5 fingerprint of normalized text.  The corpus
    is the documents table plus a whitespace-mangled copy of every 7th doc
    (ids +10^6) so real duplicate groups exist to find."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    mangled = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.lit("  "), F.upper(F.col("text")), F.lit(" ")).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(mangled)
    out = dedupfns.exact_duplicates(corpus)
    return out.select("fp", "n_dups", "keep_id")


def sql_dedup_exact() -> str:
    return f"""
      WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, '  ' || upper(text) || ' ' AS text
        FROM documents WHERE doc_id % 7 = 0
      )
      SELECT md5({_NORM_SQL}) AS fp, count(*) AS n_dups, min(doc_id) AS keep_id
      FROM corpus GROUP BY 1 HAVING count(*) > 1
    """


def q_bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental Bloom-prefiltered dedup (dedup.bloom_incremental_dedup):
    the new batch (doc_id % 4 == 0, plus whitespace-mangled clones of every
    12th-mod-3 HISTORY doc so true cross-batch dups exist) probes a packed
    m=2048/k=4 Bloom summary of the history corpus (doc_id % 4 != 0), then
    candidates verify exactly.  Full value oracle: the md5-derived double
    hashing is re-derived in SQL via hex-nibble decoding, so bloom_hit —
    including any false positives at this fill ratio — matches bit-for-bit,
    and is_dup -> bloom_hit (no false negatives) is checkable row-by-row."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    hist = docs.filter(F.col("doc_id") % 4 != 0).select("doc_id", "text")
    planted = docs.filter(F.col("doc_id") % 12 == 3).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.lit(" "), F.upper(F.col("text")), F.lit("  ")).alias("text"),
    )
    new = (
        docs.filter(F.col("doc_id") % 4 == 0)
        .select("doc_id", "text")
        .unionByName(planted)
    )
    return dedupfns.bloom_incremental_dedup(new, hist, m=2048, k=4)


def _sql_hex8_int(e: str) -> str:
    """DuckDB expression: first 8 hex chars of md5-hex expression ``e`` as
    an integer — nibble CASE chain, the sql_simhash idiom."""
    nib = (
        f"CASE substr({e}, {{pos}}, 1) "
        + " ".join(f"WHEN '{c}' THEN {int(c, 16)}" for c in "0123456789abcdef")
        + " END"
    )
    return " + ".join(
        f"CAST(({nib.format(pos=j + 1)}) AS BIGINT) * {16 ** (7 - j)}"
        for j in range(8)
    )


def sql_bloom_dedup() -> str:
    m = 2048
    pos_expr = (
        "("
        + _sql_hex8_int("md5(fp || '#b' || CAST(i AS VARCHAR))")
        + f") % {m}"
    )
    return f"""
      WITH hist AS (
        SELECT DISTINCT md5({_NORM_SQL}) AS fp FROM documents
        WHERE doc_id % 4 <> 0
      ),
      newb AS (
        SELECT doc_id, md5({_NORM_SQL}) AS fp FROM documents
        WHERE doc_id % 4 = 0
        UNION ALL
        SELECT doc_id + 2000000 AS doc_id,
               md5(lower(trim(regexp_replace(
                 ' ' || upper(text) || '  ', '\\s+', ' ', 'g')))) AS fp
        FROM documents WHERE doc_id % 12 = 3
      ),
      ks AS (SELECT unnest(generate_series(0, 3)) AS i),
      hpos AS (SELECT DISTINCT {pos_expr} AS pos FROM hist CROSS JOIN ks),
      np AS (
        SELECT doc_id, fp, i, {pos_expr} AS pos FROM newb CROSS JOIN ks
      ),
      ph AS (
        SELECT np.doc_id, np.fp,
               bool_and(hpos.pos IS NOT NULL) AS bloom_hit
        FROM np LEFT JOIN hpos ON np.pos = hpos.pos
        GROUP BY 1, 2
      )
      SELECT doc_id, fp, bloom_hit,
             (fp IN (SELECT fp FROM hist)) AS is_dup
      FROM ph
    """


def q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select("doc_id", textfns.fingerprint("text").alias("fp"))


def sql_fingerprints() -> str:
    return f"SELECT doc_id, md5({_NORM_SQL}) AS fp FROM documents"


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens, BPE-ish subwords, punct hits."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id",
        textfns.token_count("text").cast("long").alias("n_tokens"),
        textfns.subword_count("text").cast("long").alias("n_subwords"),
        F.length("text").cast("long").alias("n_chars"),
    )


def sql_token_stats() -> str:
    bpe = r"[A-Za-z]{1,4}|[0-9]{1,3}|[^A-Za-z0-9\s]"
    return f"""
      SELECT doc_id,
        len(list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '')) AS n_tokens,
        len(regexp_extract_all(text, '{bpe}')) AS n_subwords,
        length(text) AS n_chars
      FROM documents
    """


def q_lang_id_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic -> docs per detected language."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        docs.select(textfns.lang_id("text").alias("lang_pred"))
        .groupBy("lang_pred")
        .agg(F.count("*").alias("n"))
    )


def sql_lang_id_counts() -> str:
    hits = {
        lang: f"len(list_filter({_TOKENS_SQL}, t -> t IN ({', '.join(repr(m) for m in markers)})))"
        for lang, markers in textfns.LANG_MARKERS.items()
    }
    langs = list(textfns.LANG_MARKERS)
    best = f"greatest({', '.join(hits[lang] for lang in langs)})"
    case = "CASE"
    for lang in langs:
        case += f" WHEN {best} > 0 AND {hits[lang]} = {best} THEN '{lang}'"
    case += " ELSE 'und' END"
    return f"""
      SELECT {case} AS lang_pred, count(*) AS n FROM documents GROUP BY 1
    """


def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select("doc_id", textfns.quality_score("text").alias("q"))


def sql_quality_scores() -> str:
    punct = r"[.,;:!?'\"()\[\]{}]"
    toks = f"list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '')"
    ntok = f"CAST(len({toks}) AS DOUBLE)"
    len_score = f"least({ntok} / ({_d(20.0)}), {_d(1.0)})"
    pr = (
        f"CASE WHEN length(text) > 0 THEN CAST(len(regexp_extract_all(text, $${punct}$$)) AS DOUBLE)"
        f" / length(text) ELSE {_d(0.0)} END"
    )
    punct_score = (
        f"CASE WHEN ({pr}) <= ({_d(0.2)}) THEN {_d(1.0)} "
        f"ELSE greatest({_d(0.0)}, {_d(1.0)} - (({pr}) - ({_d(0.2)})) * ({_d(2.0)})) END"
    )
    en = ", ".join(repr(m) for m in textfns.LANG_MARKERS["en"])
    ntoks_norm = f"CAST(len(list_filter({_TOKENS_SQL}, t -> t <> ''))  AS DOUBLE)"
    sw = (
        f"CASE WHEN {ntoks_norm} > 0 THEN "
        f"CAST(len(list_filter(list_filter({_TOKENS_SQL}, t -> t <> ''), t -> t IN ({en}))) AS DOUBLE)"
        f" / {ntoks_norm} ELSE {_d(0.0)} END"
    )
    sw_score = f"least(({sw}) * ({_d(5.0)}), {_d(1.0)})"
    total_len = f"CAST(list_aggregate(list_transform({toks}, t -> length(t)), 'sum') AS DOUBLE)"
    mwl = f"CASE WHEN {ntok} > 0 THEN {total_len} / {ntok} ELSE {_d(0.0)} END"
    wl_score = (
        f"CASE WHEN ({mwl}) >= ({_d(2.0)}) AND ({mwl}) <= ({_d(12.0)}) "
        f"THEN {_d(1.0)} ELSE {_d(0.25)} END"
    )
    return f"""
      SELECT doc_id,
        round(({len_score} + {punct_score} + {sw_score} + {wl_score}) / ({_d(4.0)}), 6) AS q
      FROM documents
    """


_SHINGLES_SQL = f"""
  SELECT doc_id, shingle FROM (
    SELECT doc_id,
      toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
    FROM (
      SELECT doc_id, list_filter({_TOKENS_SQL}, t -> t <> '') AS toks FROM documents
    ), unnest(generate_series(1, greatest(len(toks) - 2, 0))) AS u(i)
  ) GROUP BY doc_id, shingle
"""


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (4 md5-min hashes over word trigram shingles)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedupfns.minhash_signatures(docs, num_hashes=4)


def _sig_sql(num_hashes: int) -> str:
    """Mirror of dedup._minhash_aggs: four 8-hex sub-hashes per md5."""
    return ", ".join(
        f"min(substr(md5(shingle || '#{i // 4}'), {1 + 8 * (i % 4)}, 8)) AS sig{i}"
        for i in range(num_hashes)
    )


def sql_minhash_signatures() -> str:
    return f"WITH sh AS ({_SHINGLES_SQL}) SELECT doc_id, {_sig_sql(4)} FROM sh GROUP BY doc_id"


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-trigram Jaccard near-dup pairs (τ=0.5)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedupfns.ngram_jaccard_pairs(docs, threshold=0.5, max_docs_per_shingle=None)


def sql_ngram_jaccard() -> str:
    return f"""
      WITH sh AS ({_SHINGLES_SQL}),
      counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      common AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
      )
      SELECT id_a, id_b,
        round(CAST(n_common AS DOUBLE) / (ca.n_sh + cb.n_sh - n_common), 6) AS jaccard
      FROM common
      JOIN counts ca ON ca.doc_id = id_a
      JOIN counts cb ON cb.doc_id = id_b
      WHERE CAST(n_common AS DOUBLE) / (ca.n_sh + cb.n_sh - n_common) >= round(0.5, 6)
    """


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs (16 hashes, 8 bands of 2)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedupfns.minhash_lsh_pairs(docs, num_hashes=16, bands=8)


def sql_minhash_lsh_pairs() -> str:
    sigs = _sig_sql(16)
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, md5(sig{2*b} || '|' || sig{2*b+1}) AS bucket FROM sigs"
        for b in range(8)
    )
    return f"""
      WITH sh AS ({_SHINGLES_SQL}),
      sigs AS (SELECT doc_id, {sigs} FROM sh GROUP BY doc_id),
      buckets AS ({bands})
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM buckets a JOIN buckets b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    """


def q_minhash_lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full production dedup pipeline: LSH band blocking -> exact
    Jaccard verification on candidates only (filter-refine).  A 0.5-τ pair
    survives only if BOTH the band join proposed it and the exact overlap
    confirms it."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedupfns.minhash_verified_pairs(docs, num_hashes=16, bands=8, threshold=0.5)


def sql_minhash_lsh_verified() -> str:
    sigs = _sig_sql(16)
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, md5(sig{2*b} || '|' || sig{2*b+1}) AS bucket FROM sigs"
        for b in range(8)
    )
    return f"""
      WITH sh AS ({_SHINGLES_SQL}),
      sigs AS (SELECT doc_id, {sigs} FROM sh GROUP BY doc_id),
      buckets AS ({bands}),
      cands AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM buckets a JOIN buckets b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
      ),
      counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      common AS (
        SELECT c.id_a, c.id_b, count(*) AS n_common
        FROM cands c
        JOIN sh sa ON sa.doc_id = c.id_a
        JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
        GROUP BY 1, 2
      )
      SELECT id_a, id_b,
        round(CAST(n_common AS DOUBLE) / (ca.n_sh + cb.n_sh - n_common), 6) AS jaccard
      FROM common
      JOIN counts ca ON ca.doc_id = id_a
      JOIN counts cb ON cb.doc_id = id_b
      WHERE CAST(n_common AS DOUBLE) / (ca.n_sh + cb.n_sh - n_common) >= round(0.5, 6)
    """


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash sketch per document."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedupfns.simhash_buckets(docs)


def sql_simhash() -> str:
    nibble = (
        "CASE substr(md5(t), {pos}, 1) "
        + " ".join(f"WHEN '{c}' THEN {int(c, 16)}" for c in "0123456789abcdef")
        + " END"
    )
    bit_sums = []
    for b in range(16):
        pos = b // 4 + 1
        mask = 1 << (3 - b % 4)
        contrib = (
            f"CASE WHEN ({nibble.format(pos=pos)} & {mask}) > 0 THEN 1 ELSE -1 END"
        )
        total = f"list_aggregate(list_transform(toks, t -> {contrib}), 'sum')"
        bit_sums.append(f"CASE WHEN coalesce({total}, 0) > 0 THEN {1 << (15 - b)} ELSE 0 END")
    expr = " + ".join(bit_sums)
    return f"""
      SELECT doc_id, CAST({expr} AS INTEGER) AS simhash
      FROM (SELECT doc_id, list_filter({_TOKENS_SQL}, t -> t <> '') AS toks FROM documents)
    """


_WINNOW_FPS_SQL = f"""
  SELECT DISTINCT doc_id, fp FROM (
    SELECT doc_id, pos, m,
      min(h) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
    FROM (
      SELECT doc_id, i AS pos, len(toks) - 2 AS m,
        substr(md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]), 1, 8) AS h
      FROM (SELECT doc_id, list_filter({_TOKENS_SQL}, t -> t <> '') AS toks FROM documents),
       unnest(generate_series(1, greatest(len(toks) - 2, 0))) AS u(i)
    )
  ) WHERE pos <= greatest(m - 3, 1)
"""


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing rolling-hash fingerprints (dedup.winnow_fingerprints, the
    MOSS scheme): positional word-trigram hashes, sliding min over windows
    of 4, distinct selected hashes per doc — full value parity vs a DuckDB
    window-function mirror (fixed-length hex MIN is engine-portable)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedupfns.winnow_fingerprints(docs, n=3, w=4)


def sql_winnow_fingerprints() -> str:
    return _WINNOW_FPS_SQL


def q_winnow_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs sharing >= 2 winnowing fingerprints
    (dedup.winnow_near_pairs): guaranteed to surface any shared run of
    >= 6 tokens — contained-overlap detection, not just whole-doc
    near-identity.  Hot-fingerprint cap mirrored in the oracle."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedupfns.winnow_near_pairs(docs, min_shared=2, max_docs_per_fp=1000)


def sql_winnow_near_pairs() -> str:
    return f"""
      WITH fps AS ({_WINNOW_FPS_SQL}),
      cold AS (
        SELECT * FROM fps WHERE fp NOT IN (
          SELECT fp FROM fps GROUP BY fp HAVING count(*) > 1000
        )
      )
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
      FROM cold a JOIN cold b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING count(*) >= 2
    """


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test decontamination scan (dedup.decontaminate): flag training
    docs sharing winnowing fingerprints with a held-out test set (any
    shared run of >= 6 tokens surfaces — contained test passages inside
    long training docs are caught) or exactly matching a test doc's
    normalized text.  The synthetic test set plants all three classes:
    every 9th doc verbatim (exact + fp contamination), a 10-token passage
    sliced from every 11th doc (contained contamination — fp only), and
    md5-gibberish docs from every 13th id (clean — must flag nothing).
    The test fingerprint/hash sets broadcast; the train corpus is never
    shuffled on a text key."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = textfns.tokens(textfns.normalize("text"))
    verbatim = docs.filter(F.col("doc_id") % 9 == 0).select(
        F.col("doc_id").alias("test_id"), "text"
    )
    passages = (
        docs.filter(F.col("doc_id") % 11 == 0)
        .select("doc_id", toks.alias("_t"))
        .filter(F.size("_t") >= 13)
        .select(
            (F.col("doc_id") + 1000000).alias("test_id"),
            F.concat_ws(" ", F.slice("_t", 4, 10)).alias("text"),
        )
    )
    h = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("g")))
    gibberish = docs.filter(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + 2000000).alias("test_id"),
        F.concat_ws(
            " ", *[F.substring(h, 1 + 4 * j, 4) for j in range(8)]
        ).alias("text"),
    )
    test = verbatim.unionByName(passages).unionByName(gibberish)
    out = dedupfns.decontaminate(docs, test, min_shared=1)
    return out.select("doc_id", "n_shared", F.col("exact").cast("int").alias("exact"))


def _winnow_fps_sql(src: str, id_col: str) -> str:
    """The MOSS winnowing CTE body over an arbitrary source relation whose
    text column is named ``text`` (n=3 trigram hashes, w=4 sliding min)."""
    norm = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"
    return f"""
      SELECT DISTINCT {id_col}, fp FROM (
        SELECT {id_col}, pos, m,
          min(h) OVER (PARTITION BY {id_col} ORDER BY pos
                       ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
        FROM (
          SELECT {id_col}, i AS pos, len(toks) - 2 AS m,
            substr(md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]), 1, 8) AS h
          FROM (SELECT {id_col}, list_filter(string_split({norm}, ' '), t -> t <> '') AS toks FROM {src}),
           unnest(generate_series(1, greatest(len(toks) - 2, 0))) AS u(i)
        )
      ) WHERE pos <= greatest(m - 3, 1)
    """


def sql_decontaminate() -> str:
    norm = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"
    gib = " || ' ' || ".join(
        f"substr(md5(CAST(doc_id AS VARCHAR) || 'g'), {1 + 4 * j}, 4)"
        for j in range(8)
    )
    return f"""
      WITH test_docs AS (
        SELECT doc_id AS test_id, text FROM documents WHERE doc_id % 9 = 0
        UNION ALL
        SELECT doc_id + 1000000, array_to_string(toks[4:13], ' ')
        FROM (
          SELECT doc_id,
            list_filter(string_split({norm}, ' '), t -> t <> '') AS toks
          FROM documents WHERE doc_id % 11 = 0
        ) WHERE len(toks) >= 13
        UNION ALL
        SELECT doc_id + 2000000, {gib} FROM documents WHERE doc_id % 13 = 0
      ),
      train_fps AS ({_winnow_fps_sql('documents', 'doc_id')}),
      test_fps AS (
        SELECT DISTINCT fp FROM ({_winnow_fps_sql('test_docs', 'test_id')})
      ),
      shared AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared
        FROM train_fps JOIN test_fps USING (fp) GROUP BY doc_id
      ),
      tr AS (SELECT doc_id, md5({norm}) AS fh FROM documents),
      te AS (SELECT DISTINCT md5({norm}) AS fh FROM test_docs),
      ex AS (SELECT DISTINCT doc_id, 1 AS exact FROM tr JOIN te USING (fh))
      SELECT COALESCE(s.doc_id, e.doc_id) AS doc_id,
             COALESCE(s.n_shared, 0::BIGINT) AS n_shared,
             CAST(COALESCE(e.exact, 0) AS INTEGER) AS exact
      FROM shared s FULL OUTER JOIN ex e ON s.doc_id = e.doc_id
      WHERE COALESCE(s.n_shared, 0::BIGINT) >= 1 OR COALESCE(e.exact, 0) = 1
    """


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing layout (text.pack_token_stream): docs
    concatenate into 8 md5-bucketed token streams chopped into 256-token
    sequences (docs may straddle boundaries — the GPT-pretraining shape).
    Pure native running window sums, one shuffle on the bucket key,
    bit-deterministic at any cluster size; the oracle mirrors the hex
    bucket hash, the running sum, and the floor divisions exactly."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return textfns.pack_token_stream(docs, budget=256, n_buckets=8)


def sql_pack_sequences() -> str:
    return f"""
      WITH t AS (
        SELECT doc_id,
          CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               % 8 AS INTEGER) AS bucket,
          CAST(len(list_filter({_TOKENS_SQL}, t -> t <> '')) AS BIGINT) AS n_tokens
        FROM documents
      ),
      c AS (
        SELECT doc_id, bucket, n_tokens,
          sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM t WHERE n_tokens > 0
      )
      SELECT doc_id, bucket, n_tokens,
        CAST((cum - n_tokens) // 256 AS BIGINT) AS start_seq,
        CAST((cum - n_tokens) % 256 AS BIGINT) AS start_off,
        CAST((cum - 1) // 256 AS BIGINT) AS end_seq
      FROM c
    """


def q_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming-distance-<=1 near-dup pairs via bit-flip explode: each
    doc probes 17 variants (identity + 16 single-bit flips) and joins on
    sketch equality — exact-recall blocking for radius 1 without a
    quadratic self-join (dedup.simhash_near_pairs)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedupfns.simhash_near_pairs(docs, radius=1)


def sql_simhash_near_pairs() -> str:
    flips = ", ".join(str(1 << i) for i in range(16))
    return f"""
      WITH sk AS ({sql_simhash()}),
      probes AS (
        SELECT doc_id AS id_a, xor(simhash::BIGINT, f.flip::BIGINT) AS probe
        FROM sk, (SELECT unnest([0, {flips}]) AS flip) f
      ),
      base AS (SELECT doc_id AS id_b, simhash::BIGINT AS probe FROM sk)
      SELECT DISTINCT p.id_a, b.id_b
      FROM probes p JOIN base b ON p.probe = b.probe AND p.id_a < b.id_b
    """


def q_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per doc (df-normalized term frequency,
    tf/df — a tf-idf-family score that is one IEEE division, bit-identical
    across engines; ln-idf is not)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return textfns.top_terms(docs, k=3)


def sql_top_terms() -> str:
    return f"""
      WITH toks AS (
        SELECT doc_id, unnest(list_filter({_TOKENS_SQL}, t -> t <> '')) AS term
        FROM documents
      ),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
      dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1)
      SELECT doc_id, term, rank FROM (
        SELECT tf.doc_id, tf.term,
          row_number() OVER (
            PARTITION BY tf.doc_id
            ORDER BY CAST(tf.tf AS DOUBLE) / CAST(dfreq.df AS DOUBLE) DESC, tf.term ASC
          )::INTEGER AS rank
        FROM tf JOIN dfreq ON tf.term = dfreq.term
      ) WHERE rank <= 3
    """


def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Bernoulli sample (rate 0.25) by md5-prefix threshold —
    reproducible at any parallelism, no RNG; the oracle compares the same
    lowercase-hex prefix lexicographically."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return samplefns.hash_sample(docs, 0.25).select("doc_id", "lang", "source")


def sql_sample_hash() -> str:
    thr = samplefns.hash_threshold(0.25)
    return f"""
      SELECT doc_id, lang, source FROM documents
      WHERE substr(md5(CAST(doc_id AS VARCHAR) || '#s0'), 1, 8) < '{thr}'
    """


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (duplicate-token fraction,
    top-token fraction, top-bigram fraction — Rae 2021 §A1.1 token-count
    variants) per document.  Zero shuffles: one narrow per-row projection
    chain (sorted-array run scans); every fraction is a single double
    division of exact longs, so DuckDB mirrors it bit-for-bit."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return textfns.repetition_stats(docs)


def sql_repetition_stats() -> str:
    z = _d(0.0)
    return f"""
      WITH docs AS (
        SELECT doc_id, list_filter({_TOKENS_SQL}, x -> x <> '') AS t
        FROM documents
      ),
      uni AS (
        SELECT doc_id, tok, count(*) AS c
        FROM (SELECT doc_id, unnest(t) AS tok FROM docs)
        GROUP BY doc_id, tok
      ),
      ustats AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS n_distinct,
               CAST(max(c) AS BIGINT) AS top_token_count
        FROM uni GROUP BY doc_id
      ),
      bi AS (
        SELECT doc_id, bg, count(*) AS c
        FROM (
          SELECT doc_id,
                 unnest(list_transform(range(1, len(t)),
                                       i -> t[i] || chr(31) || t[i+1])) AS bg
          FROM docs WHERE len(t) >= 2
        )
        GROUP BY doc_id, bg
      ),
      bstats AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS top_bigram_count FROM bi GROUP BY doc_id)
      SELECT d.doc_id,
             COALESCE(u.n_tokens, 0) AS n_tokens,
             COALESCE(u.n_distinct, 0) AS n_distinct,
             COALESCE(u.top_token_count, 0) AS top_token_count,
             COALESCE(b.top_bigram_count, 0) AS top_bigram_count,
             CASE WHEN u.n_tokens > 0
                  THEN CAST(u.n_tokens - u.n_distinct AS DOUBLE) / u.n_tokens
                  ELSE {z} END AS dup_token_frac,
             CASE WHEN u.n_tokens > 0
                  THEN CAST(u.top_token_count AS DOUBLE) / u.n_tokens
                  ELSE {z} END AS top_token_frac,
             CASE WHEN u.n_tokens >= 2
                  THEN CAST(b.top_bigram_count AS DOUBLE) / (u.n_tokens - 1)
                  ELSE {z} END AS top_bigram_frac
      FROM (SELECT doc_id FROM docs) d
      LEFT JOIN ustats u USING (doc_id)
      LEFT JOIN bstats b USING (doc_id)
    """


def q_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction + per-class counts over the documents corpus plus a
    deterministically PII-laden copy of every 11th doc (ids +2·10⁶):
    emails → <EMAIL>, IPv4 → <IP>, phone-like digit runs → <PHONE>, all
    native regexp (alternation-free patterns chosen to match identically
    under Java regex and RE2)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ds = F.col("doc_id").cast("string")
    planted = docs.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(
            F.col("text"), F.lit(" contact user"), ds,
            F.lit("@mail.example.org or call +1 555 "), ds,
            F.lit(" 99 from 10.0."), (F.col("doc_id") % 200).cast("string"), F.lit(".7"),
        ).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(planted)
    c = textfns.pii_counts("text")
    return corpus.select(
        "doc_id",
        textfns.scrub_pii("text").alias("scrubbed"),
        c["n_emails"].alias("n_emails"),
        c["n_phones"].alias("n_phones"),
        c["n_ips"].alias("n_ips"),
    )


def sql_scrub_pii() -> str:
    from tilematrix_spark.functions.text import PII_EMAIL_RE, PII_IPV4_RE, PII_PHONE_RE

    return f"""
      WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 2000000 AS doc_id,
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@mail.example.org or call +1 555 ' || CAST(doc_id AS VARCHAR)
                    || ' 99 from 10.0.' || CAST(doc_id % 200 AS VARCHAR) || '.7' AS text
        FROM documents WHERE doc_id % 11 = 0
      )
      SELECT doc_id,
             regexp_replace(regexp_replace(regexp_replace(text,
               '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
               '{PII_IPV4_RE}', '<IP>', 'g'),
               '{PII_PHONE_RE}', '<PHONE>', 'g') AS scrubbed,
             CAST(len(regexp_extract_all(text, '{PII_EMAIL_RE}')) AS BIGINT) AS n_emails,
             CAST(len(regexp_extract_all(text, '{PII_PHONE_RE}')) AS BIGINT) AS n_phones,
             CAST(len(regexp_extract_all(text, '{PII_IPV4_RE}')) AS BIGINT) AS n_ips
      FROM corpus
    """


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas 2023) embedding near-dup pairs: deterministic
    integer cells (det_coarse_centroids), within-cell pairs only, float-
    free cos ≥ 0.95 test (qdot²·10⁶ ≥ 950²·‖a‖²·‖b‖² in exact integers).
    Corpus = embeddings plus planted exact copies (every 13th, ids +5·10⁶)
    and one-coordinate +0.05 perturbations (every 17th, ids +6·10⁶)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    exact = emb.filter(F.col("vec_id") % 13 == 0).select(
        (F.col("vec_id") + 5000000).alias("vec_id"), "embedding"
    )
    pert = emb.filter(F.col("vec_id") % 17 == 0).select(
        (F.col("vec_id") + 6000000).alias("vec_id"),
        F.concat(
            F.array(F.element_at("embedding", 1) + F.lit(0.05)),
            F.slice("embedding", 2, 63),
        ).alias("embedding"),
    )
    corpus = emb.unionByName(exact).unionByName(pert)
    out = simfns.semantic_dedup(corpus, threshold=0.95, n_centroids=16)
    return out.select(
        "keep_id", "dup_id", F.col("cell").cast("long").alias("cell"), "qdot"
    )


def sql_semantic_dedup() -> str:
    p = _d(0.05)
    dim, t2 = 64, 950 * 950
    return f"""
      WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
      corpus AS (
        SELECT vec_id, ev FROM base
        UNION ALL
        SELECT vec_id + 5000000 AS vec_id, ev FROM base WHERE vec_id % 13 = 0
        UNION ALL
        SELECT vec_id + 6000000 AS vec_id,
               list_transform(range(1, {dim + 1}),
                              i -> CASE WHEN i = 1 THEN ev[1] + {p} ELSE ev[i] END) AS ev
        FROM base WHERE vec_id % 17 = 0
      ),
      {_sql_int_cells(16, src="corpus", vec="ev")},
      enc AS (
        SELECT v.vec_id, s.cell, v.qv,
          CAST(list_aggregate(list_transform(v.qv, x -> x * x), 'sum') AS BIGINT) AS n2
        FROM quant v JOIN cells s USING (vec_id)
      ),
      pairs AS (
        SELECT a.vec_id AS keep_id, b.vec_id AS dup_id, a.cell,
          CAST(list_aggregate(list_transform(range(1, {dim + 1}), i ->
            a.qv[i] * b.qv[i]), 'sum') AS BIGINT) AS qdot,
          a.n2 AS na, b.n2 AS nb
        FROM enc a JOIN enc b ON a.cell = b.cell AND a.vec_id < b.vec_id
      )
      SELECT keep_id, dup_id, CAST(cell AS BIGINT) AS cell, qdot
      FROM pairs
      WHERE qdot > 0
        AND CAST(qdot AS HUGEINT) * qdot * 1000000 >= CAST({t2} AS HUGEINT) * na * nb
    """


def q_c4_page_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 page-cleaning decisions (text.c4_line_stats — Raffel 2020 §2.2
    minus the external blocklist) over a deterministically planted
    multi-line corpus: every doc gets a proper first sentence, an
    unpunctuated word-soup line (line-dropped), evens a second kept
    sentence, every 23rd a javascript boilerplate line (line-dropped
    despite punctuation), every 31st a lorem-ipsum line (page-dropped),
    every 37th a curly-brace config line (page-dropped), everyone a
    two-word line (too short), and all but every 5th a multi-sentence
    closer — so %5==0 docs fail the fewer-than-5-sentences page gate."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ds = F.col("doc_id").cast("string")
    text2 = F.concat_ws(
        "\n",
        F.concat(F.lit("document "), ds, F.lit(" begins with a proper sentence.")),
        F.substring("text", 1, 40),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.substring("text", 1, 30), F.lit(" tail words here.")),
        ),
        F.when(
            F.col("doc_id") % 23 == 0,
            F.lit("please enable javascript to view this page."),
        ),
        F.when(
            F.col("doc_id") % 31 == 0,
            F.lit("standard lorem ipsum filler text here."),
        ),
        F.when(F.col("doc_id") % 37 == 0, F.lit("var config = { mode: 1 };")),
        F.lit("too short."),
        F.when(
            F.col("doc_id") % 5 != 0,
            F.concat(
                F.lit("it ends with a question? yes! and more words. "),
                ds,
                F.lit(" ok."),
            ),
        ),
    )
    corpus = docs.select("doc_id", text2.alias("text"))
    return textfns.c4_line_stats(corpus)


def sql_c4_page_filter() -> str:
    from tilematrix_spark.functions.text import (
        C4_JS_RE,
        C4_MIN_SENTENCES,
        C4_MIN_WORDS_PER_LINE,
    )

    return f"""
      WITH base AS (
        SELECT doc_id, concat_ws(chr(10),
          'document ' || CAST(doc_id AS VARCHAR) || ' begins with a proper sentence.',
          substr(text, 1, 40),
          CASE WHEN doc_id % 2 = 0 THEN substr(text, 1, 30) || ' tail words here.' END,
          CASE WHEN doc_id % 23 = 0 THEN 'please enable javascript to view this page.' END,
          CASE WHEN doc_id % 31 = 0 THEN 'standard lorem ipsum filler text here.' END,
          CASE WHEN doc_id % 37 = 0 THEN 'var config = {{ mode: 1 }};' END,
          'too short.',
          CASE WHEN doc_id % 5 <> 0
               THEN 'it ends with a question? yes! and more words. '
                    || CAST(doc_id AS VARCHAR) || ' ok.' END
        ) AS text FROM documents
      ),
      l AS (SELECT doc_id, text, string_split(text, chr(10)) AS lines FROM base),
      k AS (
        SELECT doc_id, text, lines,
          list_filter(lines, ln ->
            regexp_matches(trim(ln), '[.!?"]$')
            AND len(list_filter(regexp_split_to_array(trim(ln), '\\s+'),
                                w -> w <> '')) >= {C4_MIN_WORDS_PER_LINE}
            AND NOT regexp_matches(lower(trim(ln)), '{C4_JS_RE}')
          ) AS kept_lines
        FROM l
      ),
      s AS (
        SELECT doc_id,
          CAST(len(lines) AS BIGINT) AS n_lines,
          CAST(len(kept_lines) AS BIGINT) AS n_kept_lines,
          array_to_string(list_transform(kept_lines, ln -> trim(ln)), chr(10)) AS cleaned,
          (NOT contains(lower(text), 'lorem ipsum')
           AND NOT contains(text, '{{')) AS page_clean
        FROM k
      )
      SELECT doc_id, n_lines, n_kept_lines,
        CAST(len(regexp_extract_all(cleaned, '[.!?]')) AS BIGINT) AS n_sentences,
        page_clean,
        (page_clean
         AND len(regexp_extract_all(cleaned, '[.!?]')) >= {C4_MIN_SENTENCES}) AS kept,
        cleaned
      FROM s
    """


def _boilerplate_corpus(docs: DataFrame) -> DataFrame:
    """Planted multi-line corpus for the boilerplate-line gate: a unique
    opener (kept; absent for %101 docs), a universal cookie banner
    (removed), a share line whose evens carry extra whitespace (removed —
    trimmed fingerprints must unify the variants), a %3 newsletter line
    (removed), a per-doc line planted TWICE (kept twice — within-doc
    repeats must not count toward document frequency), a pair banner
    shared by exactly doc_id DIV 2 partners (removed at min_df=2 — the
    boundary), and an even-only unique tail (kept).  Docs 101 and 303 end
    up all-boilerplate (cleaned = '')."""
    ds = F.col("doc_id").cast("string")
    rep = F.when(
        F.col("doc_id") % 101 != 0, F.concat(F.lit("repeated within "), ds)
    )
    text2 = F.concat_ws(
        "\n",
        F.when(
            F.col("doc_id") % 101 != 0,
            F.concat(F.lit("unique opener "), ds, F.lit(": "),
                     F.substring("text", 1, 40)),
        ),
        F.lit("accept all cookies to continue"),
        F.when(
            F.col("doc_id") % 2 == 0, F.lit("  share this page on social media  ")
        ).otherwise(F.lit("share this page on social media")),
        F.when(F.col("doc_id") % 3 == 0,
               F.lit("subscribe to our newsletter today")),
        rep,
        rep,
        F.concat(F.lit("pair banner "), F.expr("doc_id DIV 2").cast("string")),
        F.when(F.col("doc_id") % 2 == 0,
               F.concat(F.lit("even tail "), ds, F.lit(" end"))),
    )
    return docs.select("doc_id", text2.alias("text"))


def q_strip_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate-line removal (dedup.strip_boilerplate_lines
    — the RefinedWeb/CCNet line-wise dedup): drop every line whose trimmed
    form occurs in >= 2 distinct documents, reassemble survivors in
    original order."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedupfns.strip_boilerplate_lines(
        _boilerplate_corpus(docs), min_df=2, id_col="doc_id"
    )


def sql_strip_boilerplate() -> str:
    return """
      WITH base AS (
        SELECT doc_id, concat_ws(chr(10),
          CASE WHEN doc_id % 101 <> 0 THEN 'unique opener '
               || CAST(doc_id AS VARCHAR) || ': ' || substr(text, 1, 40) END,
          'accept all cookies to continue',
          CASE WHEN doc_id % 2 = 0 THEN '  share this page on social media  '
               ELSE 'share this page on social media' END,
          CASE WHEN doc_id % 3 = 0 THEN 'subscribe to our newsletter today' END,
          CASE WHEN doc_id % 101 <> 0
               THEN 'repeated within ' || CAST(doc_id AS VARCHAR) END,
          CASE WHEN doc_id % 101 <> 0
               THEN 'repeated within ' || CAST(doc_id AS VARCHAR) END,
          'pair banner ' || CAST(doc_id // 2 AS VARCHAR),
          CASE WHEN doc_id % 2 = 0
               THEN 'even tail ' || CAST(doc_id AS VARCHAR) || ' end' END
        ) AS text FROM documents
      ),
      l AS (SELECT doc_id, text, string_split(text, chr(10)) AS lines FROM base),
      e AS (SELECT doc_id, lines, unnest(range(len(lines))) AS pos FROM l),
      fps AS (
        SELECT doc_id, pos, lines[pos + 1] AS line,
               trim(lines[pos + 1]) AS key
        FROM e
      ),
      boiler AS (
        SELECT key FROM (SELECT DISTINCT doc_id, key FROM fps)
        GROUP BY key HAVING count(*) >= 2
      ),
      kept AS (SELECT * FROM fps WHERE key NOT IN (SELECT key FROM boiler)),
      reasm AS (
        SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS cleaned,
               count(*) AS n_kept
        FROM kept GROUP BY doc_id
      )
      SELECT b.doc_id,
        CAST(len(string_split(b.text, chr(10))) AS BIGINT) AS n_lines,
        CAST(len(string_split(b.text, chr(10)))
             - coalesce(r.n_kept, 0) AS BIGINT) AS n_removed,
        coalesce(r.cleaned, '') AS cleaned
      FROM base b LEFT JOIN reasm r USING (doc_id)
    """


def q_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus-level line dedup (dedup.dedup_lines): every
    trimmed line keeps only its first occurrence corpus-wide (min
    (doc_id, pos)); whitespace-only lines are kept verbatim.  Runs over
    the boilerplate corpus extended with a planted blank line + unique
    tail for doc_id % 7 == 0 docs, so the blank-keep rule, within-doc
    repeats (kept once), cross-doc banners (owned by the minimal doc),
    and trimmed-variant unification are all value-gated."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = _boilerplate_corpus(docs)
    ds = F.col("doc_id").cast("string")
    text2 = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(F.col("text"), F.lit("\n\ntail after blank "), ds),
    ).otherwise(F.col("text"))
    return dedupfns.dedup_lines(
        base.select("doc_id", text2.alias("text")), id_col="doc_id"
    )


def sql_dedup_lines() -> str:
    return """
      WITH base AS (
        SELECT doc_id, concat_ws(chr(10),
          CASE WHEN doc_id % 101 <> 0 THEN 'unique opener '
               || CAST(doc_id AS VARCHAR) || ': ' || substr(text, 1, 40) END,
          'accept all cookies to continue',
          CASE WHEN doc_id % 2 = 0 THEN '  share this page on social media  '
               ELSE 'share this page on social media' END,
          CASE WHEN doc_id % 3 = 0 THEN 'subscribe to our newsletter today' END,
          CASE WHEN doc_id % 101 <> 0
               THEN 'repeated within ' || CAST(doc_id AS VARCHAR) END,
          CASE WHEN doc_id % 101 <> 0
               THEN 'repeated within ' || CAST(doc_id AS VARCHAR) END,
          'pair banner ' || CAST(doc_id // 2 AS VARCHAR),
          CASE WHEN doc_id % 2 = 0
               THEN 'even tail ' || CAST(doc_id AS VARCHAR) || ' end' END
        ) AS text FROM documents
      ),
      base2 AS (
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 0
                    THEN text || chr(10) || chr(10)
                         || 'tail after blank ' || CAST(doc_id AS VARCHAR)
                    ELSE text END AS text
        FROM base
      ),
      l AS (SELECT doc_id, text, string_split(text, chr(10)) AS lines
            FROM base2),
      e AS (SELECT doc_id, lines, unnest(range(len(lines))) AS pos FROM l),
      fps AS (
        SELECT doc_id, pos, lines[pos + 1] AS line,
               trim(lines[pos + 1]) AS key
        FROM e
      ),
      ranked AS (
        SELECT doc_id, pos, line,
               row_number() OVER (PARTITION BY key ORDER BY doc_id, pos) AS rn
        FROM fps WHERE key <> ''
      ),
      kept AS (
        SELECT doc_id, pos, line FROM ranked WHERE rn = 1
        UNION ALL
        SELECT doc_id, pos, line FROM fps WHERE key = ''
      ),
      reasm AS (
        SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS cleaned,
               count(*) AS n_kept
        FROM kept GROUP BY doc_id
      )
      SELECT b.doc_id,
        CAST(len(string_split(b.text, chr(10))) AS BIGINT) AS n_lines,
        CAST(len(string_split(b.text, chr(10)))
             - coalesce(r.n_kept, 0) AS BIGINT) AS n_removed,
        coalesce(r.cleaned, '') AS cleaned
      FROM base2 b LEFT JOIN reasm r USING (doc_id)
    """


def q_exact_substr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr duplicate-span detection (dedup.exact_substr_spans, the
    token-level Lee 2021 semantics) at L=4 over documents extended with
    three planted classes: a cross-doc shared passage (doc_id % 3 == 0,
    grouped by doc_id % 7), a corpus-wide hot 4-gram every other doc
    carries ("solo filler marker close" — hundreds of occurrences under
    one fingerprint, the skew case), and within-doc self-repetition
    (doc_id % 11 == 0).  Owner occurrences (minimal (doc_id, pos)) keep
    their spans; every other occurrence is flagged and merged into
    maximal runs."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ds = F.col("doc_id").cast("string")
    text2 = F.concat(
        F.lit("open "), ds, F.lit(" "), F.substring("text", 1, 40),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(" shared passage alpha beta gamma delta epsilon zeta "),
                (F.col("doc_id") % 7).cast("string"),
            ),
        ).otherwise(F.lit(" solo filler marker")),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.lit(" rep one two three four rep one two three four"),
        ).otherwise(F.lit("")),
        F.lit(" close "), ds,
    )
    return dedupfns.exact_substr_spans(
        docs.select("doc_id", text2.alias("text")), min_len=4
    )


def sql_exact_substr() -> str:
    return f"""
      WITH base AS (
        SELECT doc_id,
          'open ' || CAST(doc_id AS VARCHAR) || ' ' || substr(text, 1, 40)
          || CASE WHEN doc_id % 3 = 0
               THEN ' shared passage alpha beta gamma delta epsilon zeta '
                    || CAST(doc_id % 7 AS VARCHAR)
               ELSE ' solo filler marker' END
          || CASE WHEN doc_id % 11 = 0
               THEN ' rep one two three four rep one two three four'
               ELSE '' END
          || ' close ' || CAST(doc_id AS VARCHAR) AS text
        FROM documents
      ),
      toks AS (
        SELECT doc_id, list_filter({_TOKENS_SQL}, t -> t <> '') AS toks
        FROM base
      ),
      occ AS (
        SELECT doc_id, i - 1 AS pos,
               md5(array_to_string(list_slice(toks, i, i + 3), ' ')) AS fp
        FROM toks, unnest(generate_series(1, greatest(len(toks) - 3, 0))) AS u(i)
      ),
      stats AS (
        SELECT doc_id, pos,
               count(*) OVER (PARTITION BY fp) AS c,
               row_number() OVER (PARTITION BY fp ORDER BY doc_id, pos) AS rn
        FROM occ
      ),
      nonowner AS (SELECT doc_id, pos FROM stats WHERE c >= 2 AND rn > 1),
      isl AS (
        SELECT doc_id, pos,
          CASE WHEN coalesce(
                 max(pos + 4) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 -1) < pos THEN 1 ELSE 0 END AS newi
        FROM nonowner
      ),
      isl2 AS (
        SELECT doc_id, pos,
               sum(newi) OVER (PARTITION BY doc_id ORDER BY pos) AS island
        FROM isl
      ),
      spans AS (
        SELECT doc_id, island, min(pos) AS s, max(pos + 4) AS e
        FROM isl2 GROUP BY doc_id, island
      ),
      per_doc AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
               CAST(sum(e - s) AS BIGINT) AS n_dup_tokens
        FROM spans GROUP BY doc_id
      )
      SELECT t.doc_id,
        CAST(len(t.toks) AS BIGINT) AS n_tokens,
        coalesce(p.n_dup_tokens, 0) AS n_dup_tokens,
        coalesce(p.n_spans, 0) AS n_spans,
        CASE WHEN len(t.toks) > 0
             THEN CAST(coalesce(p.n_dup_tokens, 0) AS DOUBLE)
                  / CAST(len(t.toks) AS DOUBLE)
             ELSE CAST(0 AS DOUBLE) END AS dup_ratio
      FROM toks t LEFT JOIN per_doc p USING (doc_id)
    """


def q_importance_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance scoring (sampling.importance_scores) with the
    English slice of the corpus as the target distribution and the full
    corpus as raw, B=512 hashed unigram+bigram buckets.  The gated columns
    are the integer-exact surface (per-doc feature count, target/raw
    bucket masses, and their single-division mass_score); the float
    log-weight (summation-order-dependent by nature) is dropped here and
    covered by pytest."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    target = docs.filter(F.col("lang") == "en")
    return samplefns.importance_scores(docs, target, n_buckets=512).drop(
        "log_weight"
    )


def sql_importance_scores() -> str:
    bucket = "(" + _sql_hex8_int("md5(g)") + ") % 512"
    return f"""
      WITH toks AS (
        SELECT doc_id, list_filter({_TOKENS_SQL}, t -> t <> '') AS toks
        FROM documents
      ),
      grams AS (
        SELECT doc_id, unnest(toks) AS g FROM toks
        UNION ALL
        SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS g
        FROM toks, unnest(generate_series(1, greatest(len(toks) - 1, 0))) AS u(i)
      ),
      feats AS (SELECT doc_id, {bucket} AS bucket FROM grams),
      rc AS (SELECT bucket, count(*) AS r_cnt FROM feats GROUP BY bucket),
      tc AS (
        SELECT f.bucket, count(*) AS t_cnt
        FROM feats f JOIN documents d USING (doc_id)
        WHERE d.lang = 'en' GROUP BY f.bucket
      ),
      pd AS (
        SELECT f.doc_id,
               CAST(count(*) AS BIGINT) AS n_feats,
               CAST(sum(coalesce(t.t_cnt, 0)) AS BIGINT) AS target_mass,
               CAST(sum(r.r_cnt) AS BIGINT) AS raw_mass
        FROM feats f
        JOIN rc r USING (bucket)
        LEFT JOIN tc t USING (bucket)
        GROUP BY f.doc_id
      )
      SELECT d.doc_id,
        coalesce(p.n_feats, 0) AS n_feats,
        coalesce(p.target_mass, 0) AS target_mass,
        coalesce(p.raw_mass, 0) AS raw_mass,
        CASE WHEN coalesce(p.raw_mass, 0) > 0
             THEN CAST(p.target_mass AS DOUBLE) / CAST(p.raw_mass AS DOUBLE)
             ELSE CAST(0 AS DOUBLE) END AS mass_score
      FROM documents d LEFT JOIN pd p USING (doc_id)
    """


def q_lang_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-rebalancing stratified sample: downsample the dominant
    language (en 0.3) while keeping the rest at 0.8/1.0 — per-stratum
    hash thresholds, same determinism as sample_hash."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rates = {"en": 0.3, "de": 1.0, "fr": 0.8, "es": 0.8, "zh": 0.8}
    return samplefns.stratified_sample(docs, "lang", rates).select("doc_id", "lang")


def sql_lang_stratified() -> str:
    t = {k: samplefns.hash_threshold(r) for k, r in
         {"en": 0.3, "de": 1.0, "fr": 0.8, "es": 0.8, "zh": 0.8}.items()}
    cases = " ".join(f"WHEN '{k}' THEN '{v}'" for k, v in sorted(t.items()))
    return f"""
      SELECT doc_id, lang FROM documents
      WHERE substr(md5(CAST(doc_id AS VARCHAR) || '#s0'), 1, 8)
            < CASE lang {cases} ELSE '00000000' END
    """


def q_tile_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per z5 tile (windows.exact_distinct_per_key):
    dedup (tile, user) first — the shuffle carries distinct pairs and
    partial-aggregates map-side — then count per tile.  The scale-safe
    exact-distinct shape (hot tiles spread over the pair dedup); full
    value parity vs COUNT(DISTINCT)."""
    from tilematrix_spark.functions import windows as winfns

    pts = _events(spark, sf_dir)
    tiled = assign.with_tile(
        pts, GEODETIC, 5, "lon", "lat",
        out_row="tile_row", out_col="tile_col", out_tile_id=None,
    )
    return winfns.exact_distinct_per_key(
        tiled, ["tile_row", "tile_col"], "user_id", out_col="n_users"
    )


def sql_tile_user_counts() -> str:
    return f"""
      WITH pts AS ({_EVENTS_SQL}), tiled AS ({_tiles_sql(5)})
      SELECT tile_row, tile_col, count(DISTINCT user_id) AS n_users
      FROM tiled WHERE {_valid_sql(5)}
      GROUP BY 1, 2
    """


def q_spatial_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe geographic train/val/test split (sampling.spatial_split):
    fold assigned by md5 of the 4x4-tile super-block at z6, so spatially
    co-located rows always share a fold (per-row hash splits leak
    near-duplicate neighbors across train/test).  Pure projection, no
    shuffle, reproducible at any parallelism; full per-row value parity vs
    the SQL mirror of block-key hashing + cumulative thresholds."""
    pts = _events(spark, sf_dir)
    out = samplefns.spatial_split(pts, GEODETIC, 6, block=4)
    return out.select("event_id", "fold")


def sql_spatial_split() -> str:
    # cumulative bounds: train 0.8 -> 'cccccccc', val 0.9 -> 'e6666666'
    return f"""
      WITH pts AS ({_EVENTS_SQL}), tiled AS ({_tiles_sql(6)}),
      keyed AS (
        SELECT event_id,
          substr(md5(
            CAST(CAST(trunc(tile_row / 4.0) AS BIGINT) AS VARCHAR) || '_' ||
            CAST(CAST(trunc(tile_col / 4.0) AS BIGINT) AS VARCHAR) || '#s0'
          ), 1, 8) AS h
        FROM tiled WHERE {_valid_sql(6)}
      )
      SELECT event_id,
        CASE WHEN h < 'cccccccc' THEN 'train'
             WHEN h < 'e6666666' THEN 'val'
             ELSE 'test' END AS fold
      FROM keyed
    """


def q_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota cap (≤10 docs per source, deterministic
    hash-ordered selection) computed hot-key-safe as a two-stage top-k —
    the per-domain cap of web-scale training mixes.  The oracle is the
    single-window definition the two-stage computation provably equals."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return samplefns.quota_per_key(docs, "source", 10).select("doc_id", "source")


def sql_source_quota() -> str:
    return """
      SELECT doc_id, source FROM (
        SELECT doc_id, source,
          row_number() OVER (
            PARTITION BY source
            ORDER BY substr(md5(CAST(doc_id AS VARCHAR) || '#q0'), 1, 8), doc_id
          ) AS rn
        FROM documents
      ) WHERE rn <= 10
    """


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERING: connected components over the SimHash
    Hamming-≤1 pair graph (iterative min-label propagation; component =
    smallest reachable doc_id) — the step that turns pairwise near-dup
    output into one-survivor-per-cluster dedup.  Oracled by a DuckDB
    recursive CTE computing min reachable id over the same edges."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = dedupfns.simhash_near_pairs(docs, radius=1)
    return dedupfns.connected_components(pairs)


def sql_dedup_clusters() -> str:
    return f"""
      WITH RECURSIVE pr AS ({sql_simhash_near_pairs()}),
      edges AS (
        SELECT id_a AS src, id_b AS dst FROM pr
        UNION
        SELECT id_b AS src, id_a AS dst FROM pr
      ),
      verts AS (SELECT DISTINCT src AS id FROM edges),
      reach AS (
        SELECT id, id AS r FROM verts
        UNION
        SELECT reach.id, e.dst AS r FROM reach JOIN edges e ON e.src = reach.r
      )
      SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id
    """


# -- embeddings: similarity ---------------------------------------------------

def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-3 for the first 16 vectors."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    out = simfns.cosine_topk(queries, emb, k=3, query_id="qid")
    return out.select("qid", "vec_id", F.col("rank").cast("int").alias("rank"))


def _sql_cosine_scored(n_queries: int) -> str:
    """CTEs ``q``, ``c``, ``scored``: the float cosine of similarity.cosine_topk
    (rounded to 6 places) between the first ``n_queries`` ids and every
    other corpus vector."""
    return f"""
      q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < {n_queries}),
      c AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
      scored AS (
        SELECT q.qid, c.vec_id,
          round(list_dot_product(q.qv, c.cv)
            / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv))), 6) AS sim
        FROM q CROSS JOIN c WHERE q.qid <> c.vec_id
      )"""


def _sql_cosine_topk(n_queries: int, k: int) -> str:
    return f"""
      WITH {_sql_cosine_scored(n_queries)}
      SELECT qid, vec_id, rank::INTEGER AS rank FROM (
        SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rank
        FROM scored
      ) WHERE rank <= {k}
    """


def sql_cosine_topk() -> str:
    return _sql_cosine_topk(16, 3)


def q_retrieval_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval evaluation (similarity.retrieval_recall): perturbed copies
    of every 17th embedding (x*1.01 + 0.001, an IEEE-identical double op in
    any engine) query the full corpus; each query's true match is ranked by
    exact integer dot product over unit-quantized codes
    (similarity.with_unit_quant — pre-quant floor(v*1000+0.5), integer
    norm², one correctly-rounded renormalizing division), so true_rank and
    hit@k flags match DuckDB bit-for-bit with NO rounding tolerance —
    unlike a float cosine, which would need a round() fudge."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    corpus = simfns.with_unit_quant(emb)
    queries = simfns.with_unit_quant(
        emb.filter(F.col("vec_id") % 17 == 3).select(
            (F.col("vec_id") + 1000000).alias("qid"),
            F.col("vec_id").alias("true_id"),
            F.transform(
                "embedding",
                lambda x: x.cast("double") * F.lit(1.01) + F.lit(0.001),
            ).alias("embedding"),
        )
    )
    return simfns.retrieval_recall(queries, corpus)


def sql_retrieval_recall() -> str:
    """Mirror with the identical op sequence: floor(x*1000+0.5) pre-quant,
    exact integer norm² via list_dot_product (integer-valued doubles),
    floor((q*100000)/sqrt(n2)+0.5) renormalization — parentheses match the
    Spark kernel's left-to-right evaluation — then integer dot ranking
    with ties on ascending vec_id."""
    return """
      WITH c0 AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[],
                              x -> floor(x * 1000 + 0.5)) AS q
        FROM embeddings
      ),
      c1 AS (SELECT vec_id, q, list_dot_product(q, q) AS n2 FROM c0),
      c AS (
        SELECT vec_id,
               list_transform(q,
                 x -> floor((x * 100000) / sqrt(n2) + 0.5)) AS u
        FROM c1
      ),
      q0 AS (
        SELECT vec_id + 1000000 AS qid, vec_id AS true_id,
               list_transform(embedding::DOUBLE[],
                 x -> floor((x * 1.01 + 0.001) * 1000 + 0.5)) AS q
        FROM embeddings WHERE vec_id % 17 = 3
      ),
      q1 AS (SELECT qid, true_id, q, list_dot_product(q, q) AS n2 FROM q0),
      qu AS (
        SELECT qid, true_id,
               list_transform(q,
                 x -> floor((x * 100000) / sqrt(n2) + 0.5)) AS u
        FROM q1
      ),
      scored AS (
        SELECT qu.qid, qu.true_id, c.vec_id,
               list_dot_product(qu.u, c.u) AS s
        FROM qu CROSS JOIN c
      ),
      ranked AS (
        SELECT qid, true_id, vec_id,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY s DESC, vec_id ASC) AS r
        FROM scored
      )
      SELECT qid, true_id, CAST(r AS BIGINT) AS true_rank,
             CAST(CASE WHEN r <= 1 THEN 1 ELSE 0 END AS INTEGER) AS hit1,
             CAST(CASE WHEN r <= 10 THEN 1 ELSE 0 END AS INTEGER) AS hit10
      FROM ranked WHERE vec_id = true_id
    """


def q_embedding_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding cosine near-dup pairs (exact O(n²) on a 300-vector slice
    plus rescaled copies of every 13th vector, ids +10^6 — cosine is
    scale-invariant so those pairs are exact near-dups to recover)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(F.col("vec_id") < 300)
    clones = emb.filter(F.col("vec_id") % 13 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(2.0)).alias("embedding"),
    )
    corpus = emb.select("vec_id", "embedding").unionByName(clones)
    out = simfns.cosine_dup_pairs(corpus, threshold=0.999, exact=True)
    return out.select("id_a", "id_b")


def sql_embedding_dups() -> str:
    return """
      WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 300
        UNION ALL
        SELECT vec_id + 1000000 AS vec_id,
               list_transform(embedding::DOUBLE[], x -> x * 2.0::DOUBLE) AS v
        FROM embeddings WHERE vec_id < 300 AND vec_id % 13 = 0
      )
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM e a CROSS JOIN e b
      WHERE a.vec_id < b.vec_id
        AND round(list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= round(0.999, 6)
    """


_PQ_M, _PQ_K, _PQ_SUB = 8, 16, 8


def _pq_books(spark: SparkSession, sf_dir: str):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return emb, simfns.pq_codebooks(emb, m=_PQ_M, k=_PQ_K)


def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN top-3 via asymmetric distance
    (similarity.pq_topk): deterministic integer-exact codebooks (subspace
    j's 16 centroids = quantized subvectors of corpus ids j*16..j*16+15),
    Arrow encode (argmin per subspace), per-query m×k distance tables
    broadcast into one map-side ADC scan, candidate distance = 8 table
    lookups on the code —
    the full PQ pipeline (codebooks, encode, table, ADC sum, ranking) is
    integer arithmetic both engines compute bit-identically, so the DuckDB
    mirror is a complete value oracle, not a rows-only check."""
    emb, books = _pq_books(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 32).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    out = simfns.pq_topk(queries, emb, books, k=3)
    return out.select("qid", "vec_id", F.col("rank").cast("int").alias("rank"))


def _pq_base_sql() -> str:
    s = _d(simfns.PORTABLE_SCALE)
    h = _d(0.5)
    m, k, sub = _PQ_M, _PQ_K, _PQ_SUB
    return f"""
      q AS (
        SELECT vec_id,
          list_transform(embedding::DOUBLE[],
                         x -> CAST(floor(x * {s} + {h}) AS BIGINT)) AS qv
        FROM embeddings
      ),
      -- positional like similarity.pq_codebooks (orderBy(id).limit(m*k)):
      -- rank rows by vec_id ORDER, not vec_id VALUE, so id gaps / nonzero
      -- starts can't silently diverge the oracle from the engine.
      books AS (
        SELECT js.j, b.pos - js.j * {k} AS c,
               b.qv[js.j * {sub} + 1 : js.j * {sub} + {sub}] AS cent
        FROM (SELECT qv, row_number() OVER (ORDER BY vec_id) - 1 AS pos FROM q) b
        CROSS JOIN (SELECT unnest(range({m})) AS j) js
        WHERE b.pos >= js.j * {k} AND b.pos < (js.j + 1) * {k}
      ),
      dists AS (
        SELECT v.vec_id, b.j, b.c,
          CAST(list_aggregate(list_transform(range(1, {sub + 1}), i ->
            (v.qv[b.j * {sub} + i] - b.cent[i])
            * (v.qv[b.j * {sub} + i] - b.cent[i])), 'sum') AS BIGINT) AS d
        FROM q v CROSS JOIN books b
      ),
      codes AS (
        SELECT vec_id, j, c AS code FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id, j ORDER BY d, c) AS rn
          FROM dists
        ) WHERE rn = 1
      )
    """


def sql_pq_topk() -> str:
    """Full SQL mirror of PQ-ADC: same quantization, same id-derived
    codebooks, argmin encode with the same (distance, centroid-id) tie
    order, ADC distance = sum of the query's per-subspace distances at the
    candidate's code, rank by (distance, vec_id)."""
    return f"""
      WITH {_pq_base_sql()},
      adc AS (
        SELECT qd.vec_id AS qid, cd.vec_id, CAST(sum(qd.d) AS BIGINT) AS dist
        FROM codes cd
        JOIN dists qd ON qd.j = cd.j AND qd.c = cd.code
        WHERE qd.vec_id < 32 AND qd.vec_id <> cd.vec_id
        GROUP BY 1, 2
      )
      SELECT qid, vec_id, rank FROM (
        SELECT qid, vec_id,
          CAST(row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS INTEGER) AS rank
        FROM adc
      ) WHERE rank <= 3
    """


def q_ivf_pq_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC with RESIDUAL encoding at a PRUNED probe (nprobe=4 of 16
    cells — the regime VERDICT r4 flagged as driver-invisible): corpus
    vectors carry (cell, residual PQ code), each probe uses the ADC table
    of the query's residual vs that cell (similarity.ivf_pq_residual_topk,
    Jégou et al. 2011 §IV).  The deterministic integer coarse quantizer
    (positional first-16 rows) makes assignment, residuals, codebooks,
    codes, per-cell tables, ADC sums and ranking integer-exact across
    engines — so this pruned regime has a FULL value oracle, not a
    full-probe degenerate one."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 32).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    out = simfns.ivf_pq_residual_topk(
        queries, emb, m=_PQ_M, k_cb=_PQ_K, n_centroids=16, nprobe=4, k=3
    )
    return out.select("qid", "vec_id", F.col("rank").cast("int").alias("rank"))


def _sql_int_cells(
    n_cells: int,
    nprobe: int | None = None,
    src: str = "embeddings",
    vec: str = "embedding::DOUBLE[]",
) -> str:
    """CTEs mirroring the integer coarse quantizer (similarity.
    det_coarse_centroids / with_ivf_cells) over ``src``'s ``vec_id`` and
    ``vec`` columns: ``quant`` (floor(v*1000+0.5) vectors), ``pos``
    (id-order position), ``cents`` (the first ``n_cells`` positions),
    ``celld`` (exact squared L2 to every cell), ``cells`` (each vector's
    nearest cell) and, with ``nprobe``, ``qprobe`` (the first 32 ids'
    ``nprobe`` nearest cells) — both in (distance, cell id) order."""
    s, h = _d(simfns.PORTABLE_SCALE), _d(0.5)
    ctes = f"""
      quant AS (
        SELECT vec_id,
          list_transform({vec}, x -> CAST(floor(x * {s} + {h}) AS BIGINT)) AS qv
        FROM {src}
      ),
      pos AS (SELECT vec_id, qv, row_number() OVER (ORDER BY vec_id) - 1 AS pos FROM quant),
      cents AS (SELECT pos AS cid, qv AS cent FROM pos WHERE pos < {n_cells}),
      celld AS (
        SELECT v.vec_id, c.cid,
          CAST(list_aggregate(list_transform(range(1, len(v.qv) + 1), i ->
            (v.qv[i] - c.cent[i]) * (v.qv[i] - c.cent[i])), 'sum') AS BIGINT) AS d
        FROM quant v CROSS JOIN cents c
      ),
      cells AS (
        SELECT vec_id, cid AS cell FROM (
          SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
          FROM celld) WHERE rn = 1
      )"""
    if nprobe is None:
        return ctes
    return ctes + f""",
      qprobe AS (
        SELECT vec_id AS qid, cid AS cell FROM (
          SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
          FROM celld WHERE vec_id < 32) WHERE rn <= {nprobe}
      )"""


def sql_ivf_pq_residual_topk() -> str:
    """Full SQL mirror of residual IVFADC at nprobe=4: positional integer
    coarse centroids, (distance, cell-id) assignment order, residual
    vectors, positional residual codebooks, argmin encode, per-(query,
    probed-cell) residual ADC tables, lookup-sum distance, (dist, id)
    rank — every stage integer arithmetic DuckDB computes bit-identically."""
    m, kcb, sub = _PQ_M, _PQ_K, _PQ_SUB
    dim = m * sub
    return f"""
      WITH {_sql_int_cells(16, 4)},
      resid AS (
        SELECT v.vec_id, s.cell,
               list_transform(range(1, {dim + 1}), i -> v.qv[i] - c.cent[i]) AS rv
        FROM quant v JOIN cells s USING (vec_id) JOIN cents c ON c.cid = s.cell
      ),
      bsrc AS (SELECT p.pos, r.rv FROM pos p JOIN resid r USING (vec_id) WHERE p.pos < {m * kcb}),
      books AS (
        SELECT js.j, b.pos - js.j * {kcb} AS c,
               b.rv[js.j * {sub} + 1 : js.j * {sub} + {sub}] AS cent
        FROM bsrc b CROSS JOIN (SELECT unnest(range({m})) AS j) js
        WHERE b.pos >= js.j * {kcb} AND b.pos < (js.j + 1) * {kcb}
      ),
      cdist AS (
        SELECT r.vec_id, bk.j, bk.c,
          CAST(list_aggregate(list_transform(range(1, {sub + 1}), i ->
            (r.rv[bk.j * {sub} + i] - bk.cent[i])
            * (r.rv[bk.j * {sub} + i] - bk.cent[i])), 'sum') AS BIGINT) AS d
        FROM resid r CROSS JOIN books bk
      ),
      codes AS (
        SELECT vec_id, j, c AS code FROM (
          SELECT vec_id, j, c, row_number() OVER (PARTITION BY vec_id, j ORDER BY d, c) AS rn
          FROM cdist) WHERE rn = 1
      ),
      qresid AS (
        SELECT p.qid, p.cell,
               list_transform(range(1, {dim + 1}), i -> v.qv[i] - c.cent[i]) AS rq
        FROM qprobe p JOIN quant v ON v.vec_id = p.qid JOIN cents c ON c.cid = p.cell
      ),
      qtab AS (
        SELECT r.qid, r.cell, bk.j, bk.c,
          CAST(list_aggregate(list_transform(range(1, {sub + 1}), i ->
            (r.rq[bk.j * {sub} + i] - bk.cent[i])
            * (r.rq[bk.j * {sub} + i] - bk.cent[i])), 'sum') AS BIGINT) AS d
        FROM qresid r CROSS JOIN books bk
      ),
      adc AS (
        SELECT t.qid, cd.vec_id, CAST(sum(t.d) AS BIGINT) AS dist
        FROM codes cd
        JOIN cells cl USING (vec_id)
        JOIN qtab t ON t.cell = cl.cell AND t.j = cd.j AND t.c = cd.code
        WHERE t.qid <> cd.vec_id
        GROUP BY 1, 2
      )
      SELECT qid, vec_id, rank FROM (
        SELECT qid, vec_id,
          CAST(row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS INTEGER) AS rank
        FROM adc
      ) WHERE rank <= 3
    """


def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ encode surface (similarity.with_pq_codes): every corpus vector's
    8-code array, value-gated code by code (tail query: pq_topk in the gate
    window already exercises encode end-to-end)."""
    emb, books = _pq_books(spark, sf_dir)
    out = simfns.with_pq_codes(emb.select("vec_id", "embedding"), books)
    return out.select(
        "vec_id", F.col("codes").cast("array<int>").alias("codes")
    )


def sql_pq_codes() -> str:
    return f"""
      WITH {_pq_base_sql()}
      SELECT vec_id, list(code ORDER BY j)::INTEGER[] AS codes
      FROM codes GROUP BY vec_id
    """


def q_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup image blocking (input_hint ``phash:int64``):
    63-bit sign-phash derived from embedding content, banded 4x16-bit
    pigeonhole join (multimodal.phash_dup_pairs), exact Hamming<=2 refine.
    Clones of every 5th vector get 1-2 deterministic sign flips and must be
    recovered.  Mirrors tilematrix's filter-refine discipline
    (_tilepyramid.py:256-269) on the hash domain: cheap band-equality
    candidates first, exact bit_count(xor) second."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = emb.select(
        "vec_id",
        "embedding",
        mmfns.pack_sign_bits(F.col("embedding")).alias("phash"),
    )
    # Clone hashes are derived in the hash domain: negating v[k] flips
    # sign-bit (k-1) iff v[k] != 0, so XORing flip masks onto the base phash
    # is bit-identical to re-packing the perturbed embedding — and avoids
    # feeding a transform() expression into pack_sign_bits' nested
    # higher-order lambdas (Catalyst projection collapse inlines it and the
    # colliding lambda index variables silently flip the wrong bits).
    k = (F.col("vec_id") % 63 + 1).cast("int")
    k2 = ((F.col("vec_id") * 7) % 63 + 1).cast("int")

    def _mask(pos, guard):
        return F.when(guard, F.pow(F.lit(2.0), pos - 1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )

    m1 = _mask(k, F.element_at("embedding", k) != F.lit(0.0))
    m2 = _mask(
        k2, (k2 != k) & (F.element_at("embedding", k2) != F.lit(0.0))
    )
    clones = base.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + 1000000).alias("image_id"),
        F.col("phash").bitwiseXOR(m1).bitwiseXOR(m2).alias("phash"),
    )
    hashed = base.select(F.col("vec_id").alias("image_id"), "phash").unionByName(
        clones
    )
    out = mmfns.phash_dup_pairs(hashed, max_distance=2)
    return out.select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


def sql_phash_near_dup() -> str:
    # clone phash via XOR shortcut: negating v[k] flips sign-bit (k-1) iff
    # v[k] <> 0 — exactly the Spark-side re-pack of the perturbed embedding.
    return f"""
      WITH base AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      ),
      h0 AS (
        SELECT vec_id AS image_id,
          CAST(list_aggregate(list_transform(range(1, 64),
            i -> CASE WHEN v[i] > {_d(0.0)} THEN (1::BIGINT << (i - 1))
                 ELSE 0::BIGINT END), 'sum') AS BIGINT) AS phash
        FROM base
      ),
      flips AS (
        SELECT vec_id, (vec_id % 63) + 1 AS k, ((vec_id * 7) % 63) + 1 AS k2, v
        FROM base WHERE vec_id % 5 = 0
      ),
      hc AS (
        SELECT f.vec_id + 1000000 AS image_id,
          xor(xor(h.phash,
            CASE WHEN f.v[f.k] <> {_d(0.0)} THEN (1::BIGINT << (f.k - 1))
                 ELSE 0::BIGINT END),
            CASE WHEN f.k2 <> f.k AND f.v[f.k2] <> {_d(0.0)}
                 THEN (1::BIGINT << (f.k2 - 1)) ELSE 0::BIGINT END) AS phash
        FROM flips f JOIN h0 h ON h.image_id = f.vec_id
      ),
      hs AS (SELECT * FROM h0 UNION ALL SELECT * FROM hc),
      bands AS (
        SELECT image_id, phash, b.band, (phash >> (16 * b.band)) & 65535 AS bucket
        FROM hs, (SELECT unnest([0, 1, 2, 3]) AS band) b
      ),
      pairs AS (
        SELECT DISTINCT a.image_id AS id_a, a.phash AS ph_a,
                        b.image_id AS id_b, b.phash AS ph_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bucket = b.bucket AND a.image_id < b.image_id
      )
      SELECT id_a, id_b, CAST(bit_count(xor(ph_a, ph_b)) AS INTEGER) AS hamming
      FROM pairs WHERE bit_count(xor(ph_a, ph_b)) <= 2
    """


def q_spatial_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geo-blocked perceptual near-dup (multimodal.spatial_phash_pairs):
    candidates limited to the same or 8-neighboring z3 tile (Chebyshev ≤ 1
    with antimeridian wrap — hierarchy.k_ring), exact bit_count refine at
    Hamming ≤ 24.  The burst-photo dedup shape: spatial blocking bounds the
    hash comparison to local density², and stays exact at any radius within
    one tile step.  max_tile_contributors=8 forces most tiles through the
    HOT path (within-tile banded re-blocking, max_hamming+1 bands) so the
    skew guard itself is value-gated — pigeonhole makes the guarded output
    identical to the plain join, and the oracle checks exactly that.  Full
    pair/value parity vs a DuckDB mirror of the scatter + tile math +
    wrap-distance join."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = emb.select(
        F.col("vec_id").alias("image_id"),
        mmfns.pack_sign_bits(F.col("embedding")).alias("phash"),
        (F.lit(-180.0) + (F.col("vec_id") * F.lit(PHI1)) % F.lit(1.0) * F.lit(360.0)).alias("lon"),
        (F.lit(-90.0) + (F.col("vec_id") * F.lit(PHI2)) % F.lit(1.0) * F.lit(180.0)).alias("lat"),
    )
    out = mmfns.spatial_phash_pairs(
        base, GEODETIC, 3, max_hamming=24, max_tile_contributors=8
    )
    return out.select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


def sql_spatial_phash_pairs() -> str:
    mw = GEODETIC.matrix_width(3)
    return f"""
      WITH base AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      ),
      pts AS (
        SELECT vec_id AS image_id,
          CAST(list_aggregate(list_transform(range(1, 64),
            i -> CASE WHEN v[i] > {_d(0.0)} THEN (1::BIGINT << (i - 1))
                 ELSE 0::BIGINT END), 'sum') AS BIGINT) AS phash,
          {_d(-180.0)} + fmod(vec_id * {_d(PHI1)}, {_d(1.0)}) * {_d(360.0)} AS lon,
          {_d(-90.0)} + fmod(vec_id * {_d(PHI2)}, {_d(1.0)}) * {_d(180.0)} AS lat
        FROM base
      ),
      tiled AS ({_tiles_sql(3)}),
      t AS (SELECT image_id, phash, tile_row, tile_col FROM tiled WHERE {_valid_sql(3)})
      SELECT a.image_id AS id_a, b.image_id AS id_b,
        CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming
      FROM t a JOIN t b
        ON a.image_id < b.image_id
       AND abs(a.tile_row - b.tile_row) <= 1
       AND least(abs(a.tile_col - b.tile_col), {mw} - abs(a.tile_col - b.tile_col)) <= 1
      WHERE bit_count(xor(a.phash, b.phash)) <= 24
    """


def q_crossmodal_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal image+caption near-dup pairs over the input_hint table
    shape (multimodal.crossmodal_dup_pairs): a pair is a duplicate only
    when BOTH the image near-matches (phash Hamming ≤ 2, banded pigeonhole
    blocking) AND the caption near-matches (word-trigram Jaccard ≥ 0.5) —
    the web-corpus filter where a reused stock photo under unrelated
    alt-text is NOT a duplicate.  The corpus plants both pair classes:
    every 5th image gets a clone (1-2 phash sign-bit flips, SAME caption —
    must be recovered) and every 7th gets a hard negative (same flips,
    the NEXT document's caption — the image gate proposes it, the caption
    gate must reject it unless the adjacent captions genuinely overlap;
    the oracle recomputes the identical jaccard either way).  Kernels:
    phash bands + exact bit_count refine + native array_intersect verify
    on candidates only."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    base = emb.select(
        "vec_id",
        "embedding",
        mmfns.pack_sign_bits(F.col("embedding")).alias("phash"),
    )
    # flip masks in the hash domain (see q_phash_near_dup: XORing is
    # bit-identical to re-packing the perturbed embedding and avoids the
    # nested-lambda projection-collapse corruption)
    k = (F.col("vec_id") % 63 + 1).cast("int")
    k2 = ((F.col("vec_id") * 7) % 63 + 1).cast("int")

    def _mask(pos, guard):
        return F.when(guard, F.pow(F.lit(2.0), pos - 1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )

    m1 = _mask(k, F.element_at("embedding", k) != F.lit(0.0))
    m2 = _mask(k2, (k2 != k) & (F.element_at("embedding", k2) != F.lit(0.0)))
    withcap = base.join(docs, base.vec_id == docs.doc_id).select(
        "vec_id", "phash",
        F.col("phash").bitwiseXOR(m1).bitwiseXOR(m2).alias("_flipped"),
        F.col("text").alias("caption"),
    )
    orig = withcap.select(
        F.col("vec_id").alias("image_id"), "phash", "caption"
    )
    clones = withcap.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + 1000000).alias("image_id"),
        F.col("_flipped").alias("phash"),
        "caption",
    )
    nxt = docs.select(F.col("doc_id").alias("_d2"), F.col("text").alias("_t2"))
    negs = (
        withcap.filter(F.col("vec_id") % 7 == 0)
        .join(nxt, withcap.vec_id + 1 == F.col("_d2"))
        .select(
            (F.col("vec_id") + 2000000).alias("image_id"),
            F.col("_flipped").alias("phash"),
            F.col("_t2").alias("caption"),
        )
    )
    corpus = orig.unionByName(clones).unionByName(negs)
    out = mmfns.crossmodal_dup_pairs(corpus, max_hamming=2, min_jaccard=0.5)
    return out.select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming"), "jaccard"
    )


def sql_crossmodal_dups() -> str:
    norm_cap = "lower(trim(regexp_replace(caption, '\\s+', ' ', 'g')))"
    toks_cap = f"list_filter(string_split({norm_cap}, ' '), t -> t <> '')"
    jac = "round(CAST(c.n_common AS DOUBLE) / (ca.n_sh + cb.n_sh - c.n_common), 6)"
    return f"""
      WITH base AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      ),
      h0 AS (
        SELECT vec_id,
          CAST(list_aggregate(list_transform(range(1, 64),
            i -> CASE WHEN v[i] > {_d(0.0)} THEN (1::BIGINT << (i - 1))
                 ELSE 0::BIGINT END), 'sum') AS BIGINT) AS phash
        FROM base
      ),
      fl AS (
        SELECT b.vec_id,
          xor(xor(h.phash,
            CASE WHEN b.v[(b.vec_id % 63) + 1] <> {_d(0.0)}
                 THEN (1::BIGINT << (b.vec_id % 63)) ELSE 0::BIGINT END),
            CASE WHEN ((b.vec_id * 7) % 63) + 1 <> (b.vec_id % 63) + 1
                  AND b.v[((b.vec_id * 7) % 63) + 1] <> {_d(0.0)}
                 THEN (1::BIGINT << ((b.vec_id * 7) % 63)) ELSE 0::BIGINT END
          ) AS flipped
        FROM base b JOIN h0 h ON h.vec_id = b.vec_id
      ),
      corpus AS (
        SELECT h.vec_id AS image_id, h.phash, d.text AS caption
        FROM h0 h JOIN documents d ON d.doc_id = h.vec_id
        UNION ALL
        SELECT f.vec_id + 1000000, f.flipped, d.text
        FROM fl f JOIN documents d ON d.doc_id = f.vec_id
        WHERE f.vec_id % 5 = 0
        UNION ALL
        SELECT f.vec_id + 2000000, f.flipped, d.text
        FROM fl f JOIN documents d ON d.doc_id = f.vec_id + 1
        WHERE f.vec_id % 7 = 0
      ),
      bands AS (
        SELECT image_id, phash, b.band, (phash >> (16 * b.band)) & 65535 AS bucket
        FROM corpus, (SELECT unnest([0, 1, 2, 3]) AS band) b
      ),
      cands AS (
        SELECT DISTINCT a.image_id AS id_a, a.phash AS ph_a,
                        b.image_id AS id_b, b.phash AS ph_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bucket = b.bucket AND a.image_id < b.image_id
      ),
      ph AS (
        SELECT id_a, id_b, CAST(bit_count(xor(ph_a, ph_b)) AS INTEGER) AS hamming
        FROM cands WHERE bit_count(xor(ph_a, ph_b)) <= 2
      ),
      sh AS (
        SELECT image_id, shingle FROM (
          SELECT image_id,
            toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
          FROM (SELECT image_id, {toks_cap} AS toks FROM corpus),
          unnest(generate_series(1, greatest(len(toks) - 2, 0))) AS u(i)
        ) GROUP BY image_id, shingle
      ),
      counts AS (SELECT image_id, count(*) AS n_sh FROM sh GROUP BY image_id),
      common AS (
        SELECT a.image_id AS id_a, b.image_id AS id_b, count(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.image_id < b.image_id
        GROUP BY 1, 2
      )
      SELECT p.id_a, p.id_b, p.hamming, {jac} AS jaccard
      FROM ph p
      JOIN common c ON c.id_a = p.id_a AND c.id_b = p.id_b
      JOIN counts ca ON ca.image_id = p.id_a
      JOIN counts cb ON cb.image_id = p.id_b
      WHERE {jac} >= {_d(0.5)}
    """


def q_point_tile_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O18 on-edge tie-break semantics: points EXACTLY on z5 grid lines,
    all four on_edge_use variants — the reference's trickiest float rule
    (_funcs.py:244,250)."""
    df = spark.read.parquet(f"{sf_dir}/events.parquet").filter(F.col("event_id") % 11 == 0)
    pts = df.select(
        "event_id",
        ((F.col("event_id") % 65).cast("double") * F.lit(5.625) - F.lit(180.0)).alias("lon"),
        (F.lit(90.0) - (F.col("event_id") % 33).cast("double") * F.lit(5.625)).alias("lat"),
    )
    out = None
    for edge in ("rb", "lb", "rt", "lt"):
        t = assign.with_tile(
            pts, GEODETIC, 5, "lon", "lat", on_edge_use=edge,
            out_row="tile_row", out_col="tile_col", out_tile_id=None,
        ).withColumn("edge", F.lit(edge))
        out = t if out is None else out.unionByName(t)
    return out.select("event_id", "edge", "tile_row", "tile_col")


def sql_point_tile_edges() -> str:
    h = _d(5.625)
    mw, mh = 64, 32
    variants = []
    for edge in ("rb", "lb", "rt", "lt"):
        row_adj = (
            f"- CASE WHEN fmod({_d(90.0)} - lat, {h}) = {_d(0.0)} THEN 1 ELSE 0 END"
            if edge in ("rt", "lt") else ""
        )
        col_adj = (
            f"- CASE WHEN fmod(lon - {_d(-180.0)}, {h}) = {_d(0.0)} THEN 1 ELSE 0 END"
            if edge in ("lb", "lt") else ""
        )
        variants.append(f"""
          SELECT event_id, '{edge}' AS edge, tile_row,
            CASE WHEN raw_col = -1 THEN {mw - 1}
                 WHEN raw_col >= {mw} THEN raw_col % {mw}
                 ELSE raw_col END AS tile_col
          FROM (
            SELECT event_id,
              CAST(trunc(({_d(90.0)} - lat) / {h}) AS BIGINT) {row_adj} AS tile_row,
              CAST(trunc((lon - {_d(-180.0)}) / {h}) AS BIGINT) {col_adj} AS raw_col
            FROM pts
            WHERE lon >= {_d(-180.0)} AND lon <= {_d(180.0)}
              AND lat >= {_d(-90.0)} AND lat <= {_d(90.0)}
          )""")
    union = " UNION ALL ".join(variants)
    return f"""
      WITH pts AS (
        SELECT event_id,
          CAST(event_id % 65 AS DOUBLE) * {h} - {_d(180.0)} AS lon,
          {_d(90.0)} - CAST(event_id % 33 AS DOUBLE) * {h} AS lat
        FROM events WHERE event_id % 11 = 0
      ),
      u AS ({union})
      SELECT event_id, edge, tile_row, tile_col FROM u
      WHERE tile_row >= 0 AND tile_row < {mh} AND tile_col >= 0 AND tile_col < {mw}
    """


MERCATOR_TP = PyramidConfig.create("mercator")
MERC_R = 20037508.3427892

# the reference's irregular custom grid (test/conftest.py:86-92): non-global,
# 161x315 zoom-0 shape, EPSG:31259, exact 10.0 map-unit pixels
IRREGULAR_TP = PyramidConfig.create(
    {
        "shape": [161, 315],
        "bounds": [141920, 89840, 948320, 502000],
        "is_global": False,
        "srs": {"epsg": 31259},
    }
)


def q_point_tile_custom_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O18/O23 on a CUSTOM non-global grid (the reference's irregular
    EPSG:31259 fixture): no antimeridian wrap, non-square zoom-0 shape,
    map-unit coordinates."""
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    l, b = IRREGULAR_TP.left, IRREGULAR_TP.bottom
    sx = IRREGULAR_TP.right - IRREGULAR_TP.left
    sy = IRREGULAR_TP.top - IRREGULAR_TP.bottom
    pts = df.select(
        "event_id",
        (F.lit(l) + (F.col("event_id") * F.lit(PHI1)) % F.lit(1.0) * F.lit(sx)).alias("mx"),
        (F.lit(b) + (F.col("event_id") * F.lit(PHI2)) % F.lit(1.0) * F.lit(sy)).alias("my"),
    )
    tiled = assign.with_tile(
        pts, IRREGULAR_TP, 1, "mx", "my", out_row="tile_row", out_col="tile_col", out_tile_id=None
    )
    return tiled.groupBy("tile_row", "tile_col").agg(F.count("*").alias("n"))


def sql_point_tile_custom_grid() -> str:
    tp = IRREGULAR_TP
    h = _d(tp.tile_y_size(1))
    w = _d(tp.tile_x_size(1))
    mw, mh = tp.matrix_width(1), tp.matrix_height(1)
    l, b, r, t = _d(tp.left), _d(tp.bottom), _d(tp.right), _d(tp.top)
    sx = _d(tp.right - tp.left)
    sy = _d(tp.top - tp.bottom)
    return f"""
      WITH pts AS (
        SELECT event_id,
          {l} + fmod(event_id * {_d(PHI1)}, {_d(1.0)}) * {sx} AS mx,
          {b} + fmod(event_id * {_d(PHI2)}, {_d(1.0)}) * {sy} AS my
        FROM events
      ),
      tiled AS (
        SELECT
          CAST(trunc(({t} - my) / {h}) AS BIGINT) AS tile_row,
          CAST(trunc((mx - {l}) / {w}) AS BIGINT) AS tile_col
        FROM pts
        WHERE mx >= {l} AND mx <= {r} AND my >= {b} AND my <= {t}
      )
      SELECT tile_row, tile_col, count(*) AS n FROM tiled
      WHERE tile_row >= 0 AND tile_row < {mh} AND tile_col >= 0 AND tile_col < {mw}
      GROUP BY 1, 2
    """


def q_point_tile_mercator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O18 on the mercator grid (different zoom-0 shape and bounds)."""
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    pts = df.select(
        "event_id",
        (F.lit(-MERC_R) + (F.col("event_id") * F.lit(PHI1)) % F.lit(1.0) * F.lit(2 * MERC_R)).alias("mx"),
        (F.lit(-MERC_R) + (F.col("event_id") * F.lit(PHI2)) % F.lit(1.0) * F.lit(2 * MERC_R)).alias("my"),
    )
    tiled = assign.with_tile(
        pts, MERCATOR_TP, 5, "mx", "my", out_row="tile_row", out_col="tile_col", out_tile_id=None
    )
    return tiled.groupBy("tile_row", "tile_col").agg(F.count("*").alias("n"))


def sql_point_tile_mercator() -> str:
    h = _d(MERCATOR_TP.tile_y_size(5))
    r = _d(MERC_R)
    r2 = _d(2 * MERC_R)
    mw = MERCATOR_TP.matrix_width(5)
    mh = MERCATOR_TP.matrix_height(5)
    return f"""
      WITH pts AS (
        SELECT event_id,
          -{r} + fmod(event_id * {_d(PHI1)}, {_d(1.0)}) * {r2} AS mx,
          -{r} + fmod(event_id * {_d(PHI2)}, {_d(1.0)}) * {r2} AS my
        FROM events
      ),
      tiled AS (
        SELECT
          CAST(trunc(({r} - my) / {h}) AS BIGINT) AS tile_row,
          CASE
            WHEN CAST(trunc((mx - (-{r})) / {h}) AS BIGINT) = -1 THEN {mw - 1}
            WHEN CAST(trunc((mx - (-{r})) / {h}) AS BIGINT) >= {mw}
              THEN CAST(trunc((mx - (-{r})) / {h}) AS BIGINT) % {mw}
            ELSE CAST(trunc((mx - (-{r})) / {h}) AS BIGINT)
          END AS tile_col
        FROM pts
        WHERE mx >= -{r} AND mx <= {r} AND my >= -{r} AND my <= {r}
      )
      SELECT tile_row, tile_col, count(*) AS n FROM tiled
      WHERE tile_row >= 0 AND tile_row < {mh} AND tile_col >= 0 AND tile_col < {mw}
      GROUP BY 1, 2
    """


def q_tile_ids_packed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packed shuffle-key tile ids + unpack round-trip (exprs.tile_id)."""
    tiles = q_point_tile_counts(spark, sf_dir).select("tile_row", "tile_col")
    packed = exprs.tile_id(5, "tile_row", "tile_col")
    parts = exprs.tile_id_parts(packed)
    return tiles.select(
        "tile_row", "tile_col", packed.alias("tid"),
        parts["zoom"].alias("zoom2"), parts["row"].alias("row2"), parts["col"].alias("col2"),
    )


def sql_tile_ids_packed() -> str:
    z_shift = 1 << 58
    r_shift = 1 << 29
    return f"""
      WITH pts AS ({_EVENTS_SQL}), tiled AS ({_tiles_sql(5)}),
      tiles AS (
        SELECT tile_row, tile_col FROM tiled WHERE {_valid_sql(5)}
        GROUP BY tile_row, tile_col
      )
      SELECT tile_row, tile_col,
        5 * {z_shift}::BIGINT + tile_row * {r_shift}::BIGINT + tile_col AS tid,
        5::INTEGER AS zoom2, tile_row AS row2, tile_col AS col2
      FROM tiles
    """


def q_per_row_zoom_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row zoom column (3 + id % 5): exercises the pow(2, zoom)
    expression path of exprs instead of driver-side literals."""
    pts = _events(spark, sf_dir).withColumn(
        "zoom", (F.lit(3) + F.col("event_id") % 5).cast("int")
    )
    tiled = assign.with_tile(
        pts, GEODETIC, F.col("zoom"), "lon", "lat",
        out_row="tile_row", out_col="tile_col", out_tile_id=None,
    )
    return tiled.groupBy("zoom", "tile_row", "tile_col").agg(F.count("*").alias("n"))


def q_pyramid_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass FULL-PYRAMID histogram: every event counted at every
    zoom 0..5 via one zoom explode + the per-row-zoom assignment path —
    the declarative form of jobs/assign_pyramid_job (one scan, one
    aggregation for all 6 levels instead of 6 jobs)."""
    pts = _events(spark, sf_dir).withColumn(
        "zoom", F.explode(F.sequence(F.lit(0), F.lit(5)))
    ).withColumn("zoom", F.col("zoom").cast("int"))
    tiled = assign.with_tile(
        pts, GEODETIC, F.col("zoom"), "lon", "lat",
        out_row="tile_row", out_col="tile_col", out_tile_id=None,
    )
    return tiled.groupBy("zoom", "tile_row", "tile_col").agg(F.count("*").alias("n"))


def sql_pyramid_counts() -> str:
    base = sql_per_row_zoom_assign()
    return base.replace(
        "SELECT *, CAST(3 + event_id % 5 AS INTEGER) AS zoom FROM",
        "SELECT *, z.zoom FROM (SELECT unnest([0,1,2,3,4,5])::INTEGER AS zoom) z CROSS JOIN",
    )


def sql_per_row_zoom_assign() -> str:
    # H(z) mirrors exprs.metatile_y_size exactly:
    # ((top-bottom) / (h0 * 2^z * ts)) * ts * mt  with h0=1, ts=256, mt=1
    h = (
        f"(({_d(180.0)} / (({_d(1.0)} * power({_d(2.0)}, zoom)) * {_d(256.0)}))"
        f" * {_d(256.0)}) * {_d(1.0)}"
    )
    w = (
        f"(({_d(360.0)} / (({_d(2.0)} * power({_d(2.0)}, zoom)) * {_d(256.0)}))"
        f" * {_d(256.0)}) * {_d(1.0)}"
    )
    mw = f"greatest(1, CAST(ceil({_d(2.0)} * power({_d(2.0)}, zoom) / {_d(1.0)}) AS BIGINT))"
    mh = f"greatest(1, CAST(ceil({_d(1.0)} * power({_d(2.0)}, zoom) / {_d(1.0)}) AS BIGINT))"
    return f"""
      WITH pts AS (
        SELECT *, CAST(3 + event_id % 5 AS INTEGER) AS zoom FROM ({_EVENTS_SQL})
      ),
      tiled AS (
        SELECT zoom,
          CAST(trunc(({_d(90.0)} - lat) / ({h})) AS BIGINT) AS tile_row,
          CASE
            WHEN CAST(trunc((lon - {_d(-180.0)}) / ({w})) AS BIGINT) = -1 THEN {mw} - 1
            WHEN CAST(trunc((lon - {_d(-180.0)}) / ({w})) AS BIGINT) >= {mw}
              THEN CAST(trunc((lon - {_d(-180.0)}) / ({w})) AS BIGINT) % {mw}
            ELSE CAST(trunc((lon - {_d(-180.0)}) / ({w})) AS BIGINT)
          END AS tile_col
        FROM pts
        WHERE lon >= {_d(-180.0)} AND lon <= {_d(180.0)}
          AND lat >= {_d(-90.0)} AND lat <= {_d(90.0)}
      )
      SELECT zoom, tile_row, tile_col, count(*) AS n FROM tiled
      WHERE tile_row >= 0 AND tile_row < {mh} AND tile_col >= 0 AND tile_col < {mw}
      GROUP BY 1, 2, 3
    """




def q_geom_tiles_boxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O29 tiles_from_geom through the full filter-refine path (bbox cover +
    Arrow PIP kernel) on axis-aligned box POLYGONS — for boxes the result
    equals the pure bbox cover, giving the refine kernel a SQL oracle."""
    from tilematrix_spark.operators import geometry as geom_ops

    boxes = _event_boxes(spark, sf_dir).filter(
        (F.col("bl") >= -180.0) & (F.col("br") <= 180.0)
    )
    geojson = F.format_string(
        '{"type": "Polygon", "coordinates": [[[%s, %s], [%s, %s], [%s, %s], [%s, %s], [%s, %s]]]}',
        "bl", "bb", "bl", "bt", "br", "bt", "br", "bb", "bl", "bb",
    )
    gdf = boxes.select("event_id", geojson.alias("geometry"))
    out = geom_ops.tiles_from_geom(gdf, GEODETIC, 4, out_row="tile_row", out_col="tile_col")
    return out.select("event_id", "tile_row", "tile_col")


def sql_geom_tiles_boxes() -> str:
    zoom = 4
    h = _d(_tile_size(zoom))
    mw = GEODETIC.matrix_width(zoom)
    mh = GEODETIC.matrix_height(zoom)
    return f"""
      WITH boxes AS (
        SELECT * FROM ({_EVENT_BOXES_SQL})
        WHERE bl >= {_d(LEFT)} AND br <= {_d(RIGHT)}
      ),
      rng AS (
        SELECT event_id,
          greatest(CAST(trunc(({_d(TOP)} - least(bt, {_d(TOP)})) / {h}) AS BIGINT), 0) AS row_min,
          least(
            CAST(trunc(({_d(TOP)} - greatest(bb, {_d(BOTTOM)})) / {h}) AS BIGINT)
              - CASE WHEN fmod({_d(TOP)} - greatest(bb, {_d(BOTTOM)}), {h}) = {_d(0.0)} THEN 1 ELSE 0 END,
            {mh - 1}) AS row_max,
          greatest(CAST(trunc((bl - {_d(LEFT)}) / {h}) AS BIGINT), 0) AS col_min,
          least(
            CAST(trunc((br - {_d(LEFT)}) / {h}) AS BIGINT)
              - CASE WHEN fmod(br - {_d(LEFT)}, {h}) = {_d(0.0)} THEN 1 ELSE 0 END,
            {mw - 1}) AS col_max
        FROM boxes
      ),
      rows_exp AS (
        SELECT event_id, col_min, col_max,
               unnest(generate_series(row_min, row_max)) AS tile_row
        FROM rng WHERE row_min <= row_max
      )
      SELECT event_id, tile_row,
             unnest(generate_series(col_min, col_max)) AS tile_col
      FROM rows_exp WHERE col_min <= col_max
    """


def q_geom_tiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O29 tiles_from_geom with ``exact=True`` (intersection AREA > 0,
    _tilepyramid.py:240-254): box polygons — where the area filter must
    keep exactly the bbox cover — mixed with diagonal LineStrings (ids
    +10^6) that exact=True must drop entirely (lines have zero area), the
    reference's documented degenerate case."""
    from tilematrix_spark.operators import geometry as geom_ops

    boxes = _event_boxes(spark, sf_dir).filter(
        (F.col("bl") >= -180.0) & (F.col("br") <= 180.0)
    )
    poly_gj = F.format_string(
        '{"type": "Polygon", "coordinates": [[[%s, %s], [%s, %s], [%s, %s], [%s, %s], [%s, %s]]]}',
        "bl", "bb", "bl", "bt", "br", "bt", "br", "bb", "bl", "bb",
    )
    line_gj = F.format_string(
        '{"type": "LineString", "coordinates": [[%s, %s], [%s, %s]]}',
        "bl", "bb", "br", "bt",
    )
    polys = boxes.select("event_id", poly_gj.alias("geometry"))
    lines = boxes.filter(F.col("event_id") % 40 == 0).select(
        (F.col("event_id") + 1000000).alias("event_id"), line_gj.alias("geometry")
    )
    gdf = polys.unionByName(lines)
    out = geom_ops.tiles_from_geom(
        gdf, GEODETIC, 4, exact=True, out_row="tile_row", out_col="tile_col"
    )
    return out.select("event_id", "tile_row", "tile_col")


def sql_geom_tiles_exact() -> str:
    # boxes have generic-float edges (never exactly on a z4 grid line except
    # box corners the cover's corner edge-rules already exclude), so
    # area>0 == closed-interval cover for the polygons; LineStrings yield
    # nothing under exact=True -> the oracle is the polygon-only bbox cover
    return sql_geom_tiles_boxes()


_PIP_REGIONS = [
    (1, {"type": "Polygon", "coordinates": [[(0, 0), (60, 0), (30, 60), (0, 0)]]}),
    (2, {"type": "Polygon", "coordinates": [[(-120, -60), (-40, -60), (-40, 20), (-80, -20), (-120, 20), (-120, -60)]]}),
    (3, {"type": "MultiPolygon", "coordinates": [
        [[(100, 40), (140, 40), (140, 80), (100, 80), (100, 40)]],
        [[(130, -40), (170, -40), (170, 0), (130, 0), (130, -40)]],
    ]}),
]


def q_pip_join_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-polygon join of event points against three literal regions
    (triangle / concave / multipolygon) through the full tile-index +
    broadcast-join + Arrow ray-cast refine path (operators/pip.py)."""
    import json as _json

    from tilematrix_spark.operators import pip as pip_ops

    pts = _events(spark, sf_dir).select(F.col("event_id").alias("point_id"), "lon", "lat")
    polys = spark.createDataFrame(
        [(pid, _json.dumps(g)) for pid, g in _PIP_REGIONS], "poly_id long, geometry string"
    )
    out = pip_ops.pip_join(pts, polys, GEODETIC, zoom=3)
    return out.groupBy("poly_id").agg(F.count("*").alias("n"))


def _pip_inside_sql(parts: list, x: str = "lon", y: str = "lat") -> str:
    """Even-odd ray-cast membership of the point (``x``, ``y``) as pure
    SQL: the exact unrolled mirror of operators/pip._points_in_prepared —
    per non-horizontal edge, one crossing term (`(y0>y) != (y1>y)` and
    `x < x0 + (y-y0)*dx/dy`); part parity = sum(crossings) % 2; parts OR.
    ``parts``: per polygon part, its rings as lists of (x, y) vertex SQL
    expressions — literals or columns; an edge whose two y expressions are
    the same text is horizontal and never crosses, so it is skipped."""
    part_exprs = []
    for rings in parts:
        terms = []
        for ring in rings:
            pts = list(ring)
            if pts[0] != pts[-1]:
                pts.append(pts[0])
            for (x0, y0), (x1, y1) in zip(pts, pts[1:]):
                if y0 == y1:
                    continue
                terms.append(
                    f"CASE WHEN ((({y0}) > {y}) <> (({y1}) > {y}))"
                    f" AND {x} < ({x0}) + ({y} - ({y0})) * (({x1}) - ({x0}))"
                    f" / (({y1}) - ({y0})) THEN 1 ELSE 0 END"
                )
        part_exprs.append(f"(({' + '.join(terms)}) % 2 = 1)")
    return "(" + " OR ".join(part_exprs) + ")"


def _geom_sql(geom: dict) -> list:
    """A literal (Multi)Polygon as ``_pip_inside_sql`` parts."""
    polys = [geom["coordinates"]] if geom["type"] == "Polygon" else geom["coordinates"]
    return [
        [[(_d(float(vx)), _d(float(vy))) for vx, vy in ring] for ring in rings]
        for rings in polys
    ]


def sql_pip_join_regions() -> str:
    selects = []
    for pid, geom in _PIP_REGIONS:
        selects.append(
            f"SELECT CAST({pid} AS BIGINT) AS poly_id, count(*) AS n"
            f" FROM valid WHERE {_pip_inside_sql(_geom_sql(geom))}"
        )
    union = " UNION ALL ".join(selects)
    return f"""
      WITH pts AS ({_EVENTS_SQL}),
      valid AS (
        SELECT lon, lat FROM pts
        WHERE lon >= {_d(LEFT)} AND lon <= {_d(RIGHT)}
          AND lat >= {_d(BOTTOM)} AND lat <= {_d(TOP)}
          AND NOT (lat = {_d(BOTTOM)})
      ),
      u AS ({union})
      SELECT poly_id, n FROM u WHERE n > 0
    """


def q_verify_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row invariant gate over the synthetic images table: decoded-pixel
    allclose / PSNR >= 40 dB + caption + phash equality, aggregated per
    format × check-status so the driver gate sees any verification
    regression as oracle-visible row/count diffs (a failing image creates a
    new (fmt, false, ...) group).  The oracle pins the golden outcome — all
    2000 rows verify, split 1600 raw / 400 q8 by the idx%5 format rule —
    while the Spark side does the actual decode + PSNR + phash work
    (pixel-level exactness is additionally pinned by pytest)."""
    from tilematrix_spark import images as imglib
    from tilematrix_spark import raster

    df = imglib.images_df(spark, 2000, partitions=16)
    v = raster.verify_images(df)
    return (
        v.groupBy("fmt", "pixels_ok", "caption_ok", "phash_ok")
        .agg(F.count("*").alias("n"))
    )


def sql_verify_images() -> str:
    """Golden outcome of the per-row invariant over images 0..1999: every
    check passes; group counts follow the idx%5 format rule (images.row_fmt).
    Not a pixel re-computation (binary decode is not SQL-expressible) — but
    any Spark-side verification failure produces new groups / shifted counts
    and fails the value hash."""
    return """
      SELECT CASE WHEN idx % 5 = 0 THEN 'q8' ELSE 'raw' END AS fmt,
             TRUE AS pixels_ok, TRUE AS caption_ok, TRUE AS phash_ok,
             count(*) AS n
      FROM (SELECT unnest(generate_series(0, 1999)) AS idx)
      GROUP BY 1
    """


def q_raster_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster->vector tiling: image footprints onto z6 tiles with the pixel
    window of each footprint inside each tile (antimeridian straddlers take
    the widest of the {0, ±span} shifted windows) — full per-row parity vs
    an arithmetic SQL mirror of the deterministic images table."""
    from tilematrix_spark import images as imglib
    from tilematrix_spark import raster

    df = imglib.images_df(spark, 1000, partitions=16)
    win = raster.raster_tile_windows(df, GEODETIC, 6)
    return win.select(
        "image_id",
        F.col("row").alias("tile_row"), F.col("col").alias("tile_col"),
        "win_col_off", "win_row_off", "win_width", "win_height",
    )


def sql_raster_windows(pixelbuffer: int = 0, n: int = 1000) -> str:
    """Mirror of images.images_df(n) footprints + cover.tiles_from_bounds
    (z6) + raster.raster_tile_windows window math (incl. buffered-tile
    bounds/shape rules when ``pixelbuffer`` > 0), all in DuckDB SQL."""
    import tilematrix_spark.images as _img

    zoom = 6
    h = _d(_tile_size(zoom))
    px = _d(GEODETIC.pixel_x_size(zoom))
    mw = GEODETIC.matrix_width(zoom)
    mh = GEODETIC.matrix_height(zoom)
    # buffered-tile left/top and pixel shape (exprs.tile_bounds/tile_shape)
    off = f"({px} * {_d(float(pixelbuffer))})"
    h_edge, w_px_v = _py_tile_shape(GEODETIC, zoom, 0, 1, pixelbuffer)
    h_mid, _ = _py_tile_shape(GEODETIC, zoom, 1, 1, pixelbuffer)
    h_px = f"CASE WHEN tile_row IN (0, {mh - 1}) THEN {h_edge} ELSE {h_mid} END"
    w_px = str(w_px_v)
    r2 = _d(RIGHT - LEFT)
    hl, hb, hr, ht = _img.HOT_BOUNDS
    glon = [-180.0, -90.0, 0.0, 45.0, 90.0]
    glat = [0.0, 45.0, -45.0, 22.5, 67.5]
    lon_grid = " ".join(f"WHEN {i} THEN {_d(v)}" for i, v in enumerate(glon))
    lat_grid = " ".join(f"WHEN {i} THEN {_d(v)}" for i, v in enumerate(glat))
    # footprint pixel size at the per-row zoom 4 + idx % 8 (images.row_footprint)
    fpx = f"({_d(360.0)} / (2 * power({_d(2.0)}, 4 + idx % 8) * 256))"

    def x_win(shift: str):
        o = f"greatest(CAST(floor(((bl {shift}) - t_left) / {px}) AS BIGINT), 0)"
        end = f"least(CAST(ceil(((br {shift}) - t_left) / {px}) AS BIGINT), {w_px})"
        return o, f"greatest({end} - {o}, 0)"

    o0, w0 = x_win("+ 0.0")
    om, wm = x_win(f"- {r2}")
    op, wp = x_win(f"+ {r2}")
    best_w1 = f"CASE WHEN {wm} > {w0} THEN {wm} ELSE {w0} END"
    best_o1 = f"CASE WHEN {wm} > {w0} THEN {om} ELSE {o0} END"
    best_w = f"CASE WHEN {wp} > {best_w1} THEN {wp} ELSE {best_w1} END"
    best_o = f"CASE WHEN {wp} > {best_w1} THEN {op} ELSE {best_o1} END"
    row_off = f"greatest(CAST(floor((t_top - bt) / {px}) AS BIGINT), 0)"
    row_end = f"least(CAST(ceil((t_top - bb) / {px}) AS BIGINT), ({h_px}))"

    return f"""
      WITH ids AS (SELECT unnest(generate_series(0, {n - 1})) AS idx),
      base AS (
        SELECT idx,
          16 + (idx % 4) * 16 AS w, 16 + ((idx // 4) % 4) * 16 AS h,
          CASE WHEN idx % 10 = 3 THEN {_d(hl)} + fmod(idx * {_d(PHI1)}, {_d(1.0)}) * {_d(hr - hl)}
               WHEN idx % 97 = 0 THEN CASE (idx // 97) % 5 {lon_grid} END
               ELSE {_d(-180.0)} + fmod(idx * {_d(PHI1)}, {_d(1.0)}) * {_d(360.0)} END AS lon,
          CASE WHEN idx % 10 = 3 THEN {_d(hb)} + fmod(idx * {_d(PHI2)}, {_d(1.0)}) * {_d(ht - hb)}
               WHEN idx % 97 = 0 THEN CASE (idx // 97) % 5 {lat_grid} END
               ELSE {_d(-90.0)} + fmod(idx * {_d(PHI2)}, {_d(1.0)}) * {_d(180.0)} END AS lat
        FROM ids
      ),
      fp0 AS (
        SELECT idx, lon, lat,
          (w * {fpx}) / 2 AS half_w, (h * {fpx}) / 2 AS half_h
        FROM base
      ),
      boxes AS (
        SELECT printf('img%012d', idx) AS image_id,
          CASE WHEN idx % 101 = 7 THEN {_d(180.0)} - half_w ELSE lon - half_w END AS bl,
          greatest(lat - half_h, {_d(-90.0)}) AS bb,
          CASE WHEN idx % 101 = 7 THEN {_d(180.0)} + half_w ELSE lon + half_w END AS br,
          least(lat + half_h, {_d(90.0)}) AS bt
        FROM fp0
      ),
      rng AS (
        SELECT image_id, bl, bb, br, bt, multi, i1l, i1r, i2l, i2r,
          greatest(CAST(trunc(({_d(TOP)} - ct) / {h}) AS BIGINT), 0) AS row_min,
          least(
            CAST(trunc(({_d(TOP)} - cb) / {h}) AS BIGINT)
              - CASE WHEN fmod({_d(TOP)} - cb, {h}) = {_d(0.0)} THEN 1 ELSE 0 END,
            {mh - 1}) AS row_max,
          greatest(CAST(trunc((cl - {_d(LEFT)}) / {h}) AS BIGINT), 0) AS col_min,
          least(
            CASE
              WHEN cr_col = -1 THEN {mw - 1}
              WHEN cr_col >= {mw} THEN cr_col % {mw}
              ELSE cr_col END,
            {mw - 1}) AS col_max
        FROM (
          SELECT *,
            CAST(trunc((cr - {_d(LEFT)}) / {h}) AS BIGINT)
              - CASE WHEN fmod(cr - {_d(LEFT)}, {h}) = {_d(0.0)} THEN 1 ELSE 0 END AS cr_col
          FROM (
            SELECT image_id, bl, bb, br, bt,
              least(bt, {_d(TOP)}) AS ct,
              greatest(bb, {_d(BOTTOM)}) AS cb,
              CASE WHEN (bl < {_d(LEFT)} OR br > {_d(RIGHT)}) THEN {_d(LEFT)} ELSE bl END AS cl,
              CASE WHEN (bl < {_d(LEFT)} OR br > {_d(RIGHT)}) THEN {_d(RIGHT)} ELSE br END AS cr,
              ((bl < {_d(LEFT)}) <> (br > {_d(RIGHT)})) AND (br < bl + {r2}) AS multi,
              CASE WHEN bl < {_d(LEFT)} AND br <= {_d(RIGHT)} THEN bl + {r2}
                   WHEN br > {_d(RIGHT)} AND bl >= {_d(LEFT)} THEN {_d(LEFT)} END AS i1l,
              CASE WHEN bl < {_d(LEFT)} AND br <= {_d(RIGHT)} THEN {_d(RIGHT)}
                   WHEN br > {_d(RIGHT)} AND bl >= {_d(LEFT)} THEN br - {r2} END AS i1r,
              CASE WHEN bl < {_d(LEFT)} AND br <= {_d(RIGHT)} THEN {_d(LEFT)}
                   WHEN br > {_d(RIGHT)} AND bl >= {_d(LEFT)} THEN bl END AS i2l,
              CASE WHEN bl < {_d(LEFT)} AND br <= {_d(RIGHT)} THEN br
                   WHEN br > {_d(RIGHT)} AND bl >= {_d(LEFT)} THEN {_d(RIGHT)} END AS i2r
            FROM boxes
          )
        )
      ),
      rows_exp AS (
        SELECT image_id, bl, bb, br, bt, multi, i1l, i1r, i2l, i2r, col_min, col_max,
               unnest(generate_series(row_min, row_max)) AS tile_row
        FROM rng WHERE row_min <= row_max
      ),
      cells AS (
        SELECT image_id, bl, bb, br, bt, multi, i1l, i1r, i2l, i2r, tile_row,
               unnest(generate_series(col_min, col_max)) AS tile_col
        FROM rows_exp WHERE col_min <= col_max
      ),
      cand AS (
        SELECT image_id, bl, bb, br, bt, tile_row, tile_col,
          ({_d(LEFT)} + tile_col * {h}) - {off} AS t_left,
          least(({_d(TOP)} - tile_row * {h}) + {off}, {_d(TOP)}) AS t_top
        FROM cells
        WHERE NOT multi
           OR (({_d(LEFT)} + tile_col * {h}) <= i1r
               AND least(({_d(LEFT)} + tile_col * {h}) + {h}, {_d(RIGHT)}) >= i1l)
           OR (({_d(LEFT)} + tile_col * {h}) <= i2r
               AND least(({_d(LEFT)} + tile_col * {h}) + {h}, {_d(RIGHT)}) >= i2l)
      )
      SELECT image_id, tile_row, tile_col,
        least({best_o}, {w_px}) AS win_col_off,
        least({row_off}, ({h_px})) AS win_row_off,
        {best_w} AS win_width,
        greatest({row_end} - {row_off}, 0) AS win_height
      FROM cand
    """


def q_raster_windows_buffered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """raster_tile_windows with pixelbuffer=12: buffered tile bounds shift
    the window origin, the buffered SHAPE clips it, and the global-grid
    first/last-row one-sided buffer rule applies (north_star: 'pixelbuffer
    clipping handled exactly')."""
    from tilematrix_spark import images as imglib
    from tilematrix_spark import raster

    df = imglib.images_df(spark, 1000, partitions=16)
    win = raster.raster_tile_windows(df, GEODETIC, 6, pixelbuffer=12)
    return win.select(
        "image_id",
        F.col("row").alias("tile_row"), F.col("col").alias("tile_col"),
        "win_col_off", "win_row_off", "win_width", "win_height",
    )


def sql_raster_windows_buffered() -> str:
    return sql_raster_windows(pixelbuffer=12)


def q_compose_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster→tile mosaic composition (raster.compose_tiles: decode +
    nearest-neighbor resample + integer-mean overlap per tile canvas) over
    400 synthetic images at z6.  The full kernel runs; the oracle gates the
    SQL-expressible surface — which tiles get a canvas and from how many
    contributors (the cover/window math) — while canvas pixel bytes are
    pinned by pytest (binary decode is not SQL-expressible)."""
    from tilematrix_spark import images as imglib
    from tilematrix_spark import raster

    df = imglib.images_df(spark, 400, partitions=8)
    out = raster.compose_tiles(df, GEODETIC, 6)
    return out.select(
        F.col("row").alias("tile_row"),
        F.col("col").alias("tile_col"),
        F.col("n_images").cast("long").alias("n_images"),
    )


def sql_compose_tiles() -> str:
    return f"""
      SELECT tile_row, tile_col, count(*) AS n_images
      FROM ({sql_raster_windows(n=400)})
      WHERE win_width > 0 AND win_height > 0
      GROUP BY 1, 2
    """


def q_overview_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pyramid overview step (raster.overview_level: 2x2 integer-mean box
    filter of each child into its parent quadrant).  The full downsample
    kernel runs; the oracle gates the SQL-expressible surface — which
    parents exist and from how many children (tile addressing halves per
    zoom, reference get_parent semantics) — while overview pixel bytes are
    pinned by the numpy-mirror pytest."""
    from tilematrix_spark import images as imglib
    from tilematrix_spark import raster

    df = imglib.images_df(spark, 400, partitions=8)
    out = raster.overview_level(raster.compose_tiles(df, GEODETIC, 6))
    return out.select(
        F.col("row").alias("tile_row"),
        F.col("col").alias("tile_col"),
        F.col("n_children").cast("long").alias("n_children"),
    )


def sql_overview_coverage() -> str:
    """Parents at z5 of the composed z6 tile set, with child counts —
    integer-halved addressing over the compose coverage CTE."""
    return f"""
      SELECT tile_row // 2 AS tile_row, tile_col // 2 AS tile_col,
             count(*) AS n_children
      FROM (
        SELECT DISTINCT tile_row, tile_col
        FROM ({sql_raster_windows(n=400)})
        WHERE win_width > 0 AND win_height > 0
      )
      GROUP BY 1, 2
    """


def q_rasterize_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector→raster rasterization bin surface (raster.rasterize_bins):
    one row per non-empty pixel bin of the z5 point-density burn — tile
    assignment + trunc((coord - tile_origin)/pixel_size) clamped to the
    256-pixel tile grid, two-level native agg (shuffle carries bins, not
    points).  Canvas bytes (clip-255 gray burn + overview chaining) are
    pinned by the numpy-mirror pytest."""
    from tilematrix_spark import raster

    pts = _events(spark, sf_dir)
    out = raster.rasterize_bins(pts, GEODETIC, 5)
    return out.select(
        F.col("row").alias("tile_row"),
        F.col("col").alias("tile_col"),
        F.col("py").alias("px_row"),
        F.col("px").alias("px_col"),
        F.col("n").alias("n"),
    )


def sql_rasterize_bins() -> str:
    zoom, ts = 5, 256
    hx = _d(GEODETIC.tile_x_size(zoom))
    pxs = _d(GEODETIC.pixel_x_size(zoom))
    pys = _d(GEODETIC.pixel_y_size(zoom))
    h = _d(_tile_size(zoom))
    return f"""
      WITH pts AS ({_EVENTS_SQL}), tiled AS ({_tiles_sql(zoom)})
      SELECT tile_row, tile_col,
        least(greatest(CAST(trunc((({_d(TOP)} - tile_row * {h}) - lat) / {pys}) AS BIGINT), 0), {ts - 1}) AS px_row,
        least(greatest(CAST(trunc((lon - ({_d(LEFT)} + tile_col * {hx})) / {pxs}) AS BIGINT), 0), {ts - 1}) AS px_col,
        count(*) AS n
      FROM tiled WHERE {_valid_sql(zoom)}
      GROUP BY 1, 2, 3, 4
    """


# ---------------------------------------------------------------------------
# raster fixtures: each canvas formula declared once, for both engines
# ---------------------------------------------------------------------------

#: the names a band or ``keep`` template may use, each bound to itself
_PIXEL_NAMES = {n: n for n in ("i", "j", "row", "col", "gy", "gx")}
_CANVAS_SCHEMA = "row long, col long, tile_w int, tile_h int, bytes binary"


def _sql_grid(rows: range, cols: range) -> str:
    """Every (trow, tcol) of a rectangular tile grid."""
    return f"""SELECT trow, tcol
        FROM (SELECT unnest(generate_series({rows.start}, {rows.stop - 1})) AS trow)
        CROSS JOIN (SELECT unnest(generate_series({cols.start}, {cols.stop - 1})) AS tcol)"""


class CanvasFixture(NamedTuple):
    """Formula-declared ``tile_px``-square uint8 canvases over the tile grid
    ``rows`` x ``cols``, one interleaved band per ``bands`` template.  A
    template is an integer expression over ``{i} {j}`` (pixel in tile),
    ``{row} {col}`` (tile) and ``{gy} {gx}`` (global pixel, row * tile_px +
    i) that numpy and DuckDB evaluate alike; ``keep`` is a predicate over
    ``{row} {col}`` in the SQL both Spark and DuckDB parse.  ``df`` builds
    the Spark canvases and the ``sql_*`` fragments the oracles select from,
    so no oracle re-types a formula."""

    rows: range
    cols: range
    tile_px: int
    bands: list[str]
    keep: str | None

    def df(self, spark: SparkSession) -> DataFrame:
        """The kept tiles' canvases as ``row, col, tile_w, tile_h, bytes``;
        a band value outside [0, 255] raises."""
        grid = (
            spark.range(self.rows.start, self.rows.stop)
            .select(F.col("id").alias("row"))
            .crossJoin(spark.range(self.cols.start, self.cols.stop).select(F.col("id").alias("col")))
        )
        if self.keep:
            grid = grid.filter(F.expr(self.keep.format(row="row", col="col")))
        n = self.tile_px
        formulas = [t.format(**_PIXEL_NAMES) for t in self.bands]

        def gen(batches):
            import numpy as np
            import pandas as pd

            i = np.arange(n, dtype=np.int64)[:, None]
            j = np.arange(n, dtype=np.int64)[None, :]
            codes = [compile(f, "<band>", "eval") for f in formulas]

            def canvas(row, col):
                env = {"i": i, "j": j, "row": row, "col": col, "gy": row * n + i, "gx": col * n + j}
                v = np.stack([np.broadcast_to(eval(c, {"__builtins__": {}}, env), (n, n)) for c in codes], axis=-1)
                if v.min() < 0 or v.max() > 255:
                    raise ValueError(f"tile ({row}, {col}): band values outside [0, 255]")
                return v.astype(np.uint8).tobytes()

            for pdf in batches:
                if not len(pdf):
                    continue
                rows, cols = pdf["row"].to_numpy(), pdf["col"].to_numpy()
                side = np.full(len(pdf), n, dtype=np.int32)
                yield pd.DataFrame({
                    "row": rows, "col": cols, "tile_w": side, "tile_h": side,
                    "bytes": [canvas(int(r), int(c)) for r, c in zip(rows, cols)],
                })

        return grid.mapInPandas(gen, _CANVAS_SCHEMA)

    def sql_tiles(self) -> str:
        """The kept tiles as ``SELECT trow, tcol``."""
        keep = f"\n        WHERE {self.keep.format(row='trow', col='tcol')}" if self.keep else ""
        return _sql_grid(self.rows, self.cols) + keep

    def sql_keep(self, gy: str, gx: str) -> str:
        """Whether global pixel (``gy``, ``gx``) lies in a kept tile."""
        n = self.tile_px
        return f"({self.keep.format(row=f'({gy} // {n})', col=f'({gx} // {n})')})"

    def sql_inside(self, gy: str, gx: str, margin: int = 0) -> str:
        """Whether global pixel (``gy``, ``gx``) lies in the grid, ``margin``
        pixels in from its edge."""
        n, m = self.tile_px, margin
        return (f"{gy} >= {self.rows.start * n + m} AND {gy} < {self.rows.stop * n - m}"
                f" AND {gx} >= {self.cols.start * n + m} AND {gx} < {self.cols.stop * n - m}")

    def sql_value(self, band: int | str = 0, i: str = "i", j: str = "j",
                  row: str = "trow", col: str = "tcol") -> str:
        """A band's value at tile-local pixel (``i``, ``j``) of tile
        (``row``, ``col``); ``band`` is a band index or a band column."""
        n = self.tile_px
        return self._band(band, i=i, j=j, row=row, col=col,
                          gy=f"({row} * {n} + {i})", gx=f"({col} * {n} + {j})")

    def sql_gvalue(self, gy: str, gx: str, band: int | str = 0) -> str:
        """A band's value at global pixel (``gy``, ``gx``)."""
        n = self.tile_px
        return self._band(band, i=f"({gy} % {n})", j=f"({gx} % {n})",
                          row=f"({gy} // {n})", col=f"({gx} // {n})", gy=gy, gx=gx)

    def _band(self, band: int | str, **names: str) -> str:
        if isinstance(band, int):
            return f"({self.bands[band].format(**names)})"
        whens = " ".join(f"WHEN {b} THEN {t.format(**names)}" for b, t in enumerate(self.bands))
        return f"(CASE {band} {whens} END)"

    def sql_pixels(self) -> str:
        """One row per pixel and band of every kept tile: ``trow, tcol, i, j,
        gy, gx, b, v``."""
        n, nb = self.tile_px, len(self.bands)
        return f"""
      SELECT trow, tcol, i, j, trow * {n} + i AS gy, tcol * {n} + j AS gx, b,
             {self.sql_value("b" if nb > 1 else 0)} AS v
      FROM ({self.sql_tiles()}),
           (SELECT unnest(generate_series(0, {n - 1})) AS i),
           (SELECT unnest(generate_series(0, {n - 1})) AS j),
           (SELECT unnest(generate_series(0, {nb - 1})) AS b)"""

    def overview_bands(self) -> list[str]:
        """Each band's 2x2 integer box filter, as templates one zoom up:
        parent pixel (gy, gx) averages child pixels (2gy + dy, 2gx + dx)."""
        out = []
        for b in range(len(self.bands)):
            terms = [self.sql_gvalue(f"(2 * {{gy}} + {dy})", f"(2 * {{gx}} + {dx})", b)
                     for dy in (0, 1) for dx in (0, 1)]
            out.append(f"(({' + '.join(terms)}) // 4)")
        return out


def canvas_fixture(rows: range, cols: range, tile_px: int, bands: list,
                   keep: str | None = None) -> CanvasFixture:
    """Declare a raster fixture.  A band is ``(a, b, c, d, e, m)`` for
    ``(a*i + b*j + c*row + d*col + e) % m`` or a template string (see
    CanvasFixture); every term must stay non-negative, where ``//`` and
    ``%`` agree across numpy and DuckDB.  A bad declaration fails at
    import, not mid-query."""
    if tile_px < 1 or not rows or not cols or min(rows.start, cols.start) < 0 \
            or (rows.step, cols.step) != (1, 1):
        raise ValueError(f"bad grid {rows} x {cols} at {tile_px} px")
    templates = []
    for band in bands:
        if isinstance(band, tuple):
            if len(band) != 6 or not all(isinstance(k, int) and k >= 0 for k in band) \
                    or not 1 <= band[5] <= 256:
                raise ValueError(f"band {band}: want 6 non-negative ints, modulus 1..256")
            a, b, c, d, e, m = band
            band = f"({a} * {{i}} + {b} * {{j}} + {c} * {{row}} + {d} * {{col}} + {e}) % {m}"
        compile(band.format(**_PIXEL_NAMES), "<band>", "eval")
        templates.append(band)
    if not templates:
        raise ValueError("a canvas needs at least one band")
    if keep is not None:
        keep.format(row="row", col="col")
    return CanvasFixture(rows, cols, tile_px, templates, keep)


#: the 72-tile z5 region (lon [-90, -22.5], lat [11.25, 45]) every zonal,
#: focal, histogram, stretch, diff and audit query reads
_REGION = (range(8, 14), range(16, 28))
ZONAL_CANVAS = canvas_fixture(*_REGION, 256, [(3, 7, 11, 13, 0, 251)])
#: raster_diff's second epoch: a second formula on every tile of the region
EPOCH_B_CANVAS = canvas_fixture(*_REGION, 256, [(5, 3, 11, 13, 17, 251)])
#: incremental_focal's update batch: the second formula on (row+col)%5==2
FOCAL_UPDATE_CANVAS = canvas_fixture(*_REGION, 256, EPOCH_B_CANVAS.bands, keep="({row} + {col}) % 5 = 2")
#: the pyramid audit's 288 three-band z6 children of the region
AUDIT_CHILDREN = canvas_fixture(
    range(16, 28), range(32, 56), 64, [(3, 7, 11, 13, 89 * b, 251) for b in range(3)]
)
#: claimed z5 parents planted correct: the true overview of the children
AUDIT_PLANTED = canvas_fixture(*_REGION, 64, AUDIT_CHILDREN.overview_bands(), keep="({row} + {col}) % 3 = 0")
#: the other claimed parents: the children's formula read at z5, stale
AUDIT_STALE = canvas_fixture(*_REGION, 64, AUDIT_CHILDREN.bands, keep="({row} + {col}) % 3 <> 0")
#: label_components' 6x8 grid of 16 px tiles: 200 on 4x4 blocks where
#: (23*(gy//4) + 41*(gx//4)) % 7 < 2 (~2/7, below site percolation, so
#: components stay small) except ~9% holes where (3*gy + 5*gx) % 11 == 0,
#: else 10.  Block edges align with tile edges, so every cross-tile merge
#: exercises the border-strip equivalence join.
CC_CANVAS = canvas_fixture(range(0, 6), range(0, 8), 16, [
    "10 + 190 * ((6 - (23 * ({gy} // 4) + 41 * ({gx} // 4)) % 7) // 5)"
    " * (((3 * {gy} + 5 * {gx}) % 11 + 10) // 11)"
])


def _tile_keyed(df: DataFrame, *cols) -> DataFrame:
    """``df``'s ``row``/``col`` as the oracles' ``tile_row``/``tile_col``,
    then ``cols``."""
    return df.select(F.col("row").alias("tile_row"), F.col("col").alias("tile_col"), *cols)


def _zonal_zones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone bboxes for the zonal-stats gate: one per sampled event, scattered
    deterministically into the tile region rows 8-13 x cols 16-27 at z5
    (lon [-90, -22.5], lat [11.25, 45]) via exact double ops (* + fmod) both
    engines reproduce bit-for-bit.  Zones are strictly interior to the
    region (no clamp branches) and 0.11-0.48 deg wide (5-23 px windows)."""
    ev = _events(spark, sf_dir).filter(F.col("event_id") % 16 == 7)
    al, at = F.abs(F.col("lon")), F.abs(F.col("lat"))
    zl = F.lit(-89.0) + (al * F.lit(7.0) + at * F.lit(3.0)) % F.lit(60.0)
    zb = F.lit(12.0) + (at * F.lit(5.0) + al * F.lit(2.0)) % F.lit(28.0)
    zw = F.lit(0.11) + al % F.lit(0.37)
    zh = F.lit(0.13) + at % F.lit(0.31)
    return ev.select(
        F.col("event_id").alias("zone_id"),
        zl.alias("left"),
        zb.alias("bottom"),
        (zl + zw).alias("right"),
        (zb + zh).alias("top"),
    )


def q_label_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-tile connected-component labeling (raster.label_components):
    per-tile numpy CCL -> border-strip equivalence joins -> global label
    propagation (the dedup connected_components engine) -> per-component
    integer stats.  Component identity = min member pixel in row-major
    global order (gy*2^32 + gx) — engine-portable, so the DuckDB oracle's
    recursive-CTE labeling over the same formula-derived pixels matches
    hash-exact."""
    from tilematrix_spark import raster

    return raster.label_components(CC_CANVAS.df(spark), threshold=128)


def sql_label_components() -> str:
    return f"""
      WITH RECURSIVE fg AS (
        SELECT gy, gx, gy * 4294967296 + gx AS id
        FROM ({CC_CANVAS.sql_pixels()})
        WHERE v >= 128
      ),
      e1 AS (
        SELECT a.id AS src, b.id AS dst
        FROM fg a JOIN fg b ON b.gy = a.gy AND b.gx = a.gx + 1
        UNION ALL
        SELECT a.id AS src, b.id AS dst
        FROM fg a JOIN fg b ON b.gy = a.gy + 1 AND b.gx = a.gx
      ),
      edges AS (
        SELECT src, dst FROM e1 UNION SELECT dst AS src, src AS dst FROM e1
      ),
      reach AS (
        SELECT id, id AS r FROM fg
        UNION
        SELECT reach.id, e.dst AS r FROM reach JOIN edges e ON e.src = reach.r
      ),
      lbl AS (SELECT id, min(r) AS comp FROM reach GROUP BY id),
      adj AS (
        SELECT l.comp, CAST(count(*) AS BIGINT) AS n_adj
        FROM e1 JOIN lbl l ON l.id = e1.src GROUP BY l.comp
      )
      SELECT comp AS component,
        comp // 4294967296 AS comp_gy,
        comp % 4294967296 AS comp_gx,
        CAST(count(*) AS BIGINT) AS area,
        min(gy) AS min_gy,
        min(gx) AS min_gx,
        max(gy) AS max_gy,
        max(gx) AS max_gx,
        CAST(count(DISTINCT (gy // {CC_CANVAS.tile_px}) * 1000 + (gx // {CC_CANVAS.tile_px})) AS BIGINT)
          AS n_tiles,
        CAST(4 * count(*) - 2 * coalesce(min(a.n_adj), 0) AS BIGINT)
          AS perimeter
      FROM lbl JOIN fg USING (id) LEFT JOIN adj a USING (comp)
      GROUP BY comp
    """


def q_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal statistics (raster.zonal_stats): per-zone pixel count / sum /
    min / max / mean over band 0 of a tiled raster — zone bboxes cover onto
    z5 tiles, the pixel window inside each tile is the raster_tile_windows
    affine inverse, the Arrow kernel reduces window pixels to 5-int
    partials, one groupBy on zone_id.  FULL value oracle including pixel
    sums: canvases carry an integer formula DuckDB re-derives per pixel."""
    from tilematrix_spark import raster

    return raster.zonal_stats(ZONAL_CANVAS.df(spark), _zonal_zones(spark, sf_dir), GEODETIC, 5)


#: the ``_zonal_zones`` bboxes as CTE ``z(zone_id, zl, zb, zr, zt)``
_SQL_BBOX_ZONES = f"""
      pts AS ({_EVENTS_SQL}),
      z0 AS (
        SELECT event_id AS zone_id,
          ({_d(-89.0)} + fmod(abs(lon) * {_d(7.0)} + abs(lat) * {_d(3.0)}, {_d(60.0)})) AS zl,
          ({_d(12.0)} + fmod(abs(lat) * {_d(5.0)} + abs(lon) * {_d(2.0)}, {_d(28.0)})) AS zb,
          ({_d(0.11)} + fmod(abs(lon), {_d(0.37)})) AS zw,
          ({_d(0.13)} + fmod(abs(lat), {_d(0.31)})) AS zh
        FROM pts WHERE event_id % 16 = 7
      ),
      z AS (SELECT zone_id, zl, zb, zl + zw AS zr, zb + zh AS zt FROM z0)"""


def _sql_zone_pixels(zones_cte: str, carry_cols: tuple = ()) -> str:
    """The CTE chain every zonal oracle shares, over ``zones_cte``'s
    (zone_id, zl, zb, zr, zt) bboxes: ``cov``/``p0``/``pairs`` cover each
    bbox onto z5 tiles (tiles_from_bounds), ``win``/``w2`` are its
    non-empty pixel windows (the raster_tile_windows floor/ceil rule), and
    ``pix`` has one row per window pixel (zone_id, ``carry_cols``, trow,
    tcol, pi, pj)."""
    zoom = 5
    h = _d(_tile_size(zoom))
    px = _d(GEODETIC.pixel_x_size(zoom))
    c = "".join(f"{col}, " for col in carry_cols)
    return f"""
      cov AS (
        SELECT zone_id, {c}zl, zb, zr, zt,
          CAST(trunc(({_d(TOP)} - zt) / {h}) AS BIGINT) AS row_min,
          CAST(trunc(({_d(TOP)} - zb) / {h}) AS BIGINT)
            - CASE WHEN fmod({_d(TOP)} - zb, {h}) = {_d(0.0)} THEN 1 ELSE 0 END AS row_max,
          CAST(trunc((zl - {_d(LEFT)}) / {h}) AS BIGINT) AS col_min,
          CAST(trunc((zr - {_d(LEFT)}) / {h}) AS BIGINT)
            - CASE WHEN fmod(zr - {_d(LEFT)}, {h}) = {_d(0.0)} THEN 1 ELSE 0 END AS col_max
        FROM {zones_cte}
      ),
      p0 AS (
        SELECT *, unnest(generate_series(row_min, row_max)) AS trow FROM cov
      ),
      pairs AS (
        SELECT *, unnest(generate_series(col_min, col_max)) AS tcol FROM p0
      ),
      win AS (
        SELECT zone_id, {c}trow, tcol,
          greatest(CAST(floor((zl - ({_d(LEFT)} + tcol * {h})) / {px}) AS BIGINT), 0) AS c0,
          least(CAST(ceil((zr - ({_d(LEFT)} + tcol * {h})) / {px}) AS BIGINT), 256) AS cend,
          greatest(CAST(floor((({_d(TOP)} - trow * {h}) - zt) / {px}) AS BIGINT), 0) AS r0,
          least(CAST(ceil((({_d(TOP)} - trow * {h}) - zb) / {px}) AS BIGINT), 256) AS rend
        FROM pairs
      ),
      w2 AS (
        SELECT zone_id, {c}trow, tcol, c0, r0, cend - c0 AS cw, rend - r0 AS rh
        FROM win WHERE cend - c0 > 0 AND rend - r0 > 0
      ),
      pix0 AS (
        SELECT zone_id, {c}trow, tcol, c0, cw,
               unnest(generate_series(r0, r0 + rh - 1)) AS pi
        FROM w2
      ),
      pix AS (
        SELECT zone_id, {c}trow, tcol, pi,
               unnest(generate_series(c0, c0 + cw - 1)) AS pj
        FROM pix0
      )"""


#: the ``ZONAL_CANVAS`` value of a ``pix`` row
_SQL_ZONAL_VAL = ZONAL_CANVAS.sql_value(i="pi", j="pj")


def sql_zonal_stats() -> str:
    return f"""
      WITH {_SQL_BBOX_ZONES},{_sql_zone_pixels("z")},
      vals AS (SELECT zone_id, {_SQL_ZONAL_VAL} AS v FROM pix),
      t AS (SELECT zone_id, count(*) AS n_tiles FROM w2 GROUP BY 1),
      v AS (
        SELECT zone_id, count(*) AS n_px, CAST(sum(v) AS BIGINT) AS sum_val,
               CAST(min(v) AS BIGINT) AS min_val, CAST(max(v) AS BIGINT) AS max_val
        FROM vals GROUP BY 1
      )
      SELECT zone_id, CAST(n_tiles AS BIGINT) AS n_tiles, n_px, sum_val,
             min_val, max_val,
             CAST(sum_val AS DOUBLE) / CAST(n_px AS DOUBLE) AS mean_val
      FROM t JOIN v USING (zone_id)
    """


def q_zonal_poly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polygonal zonal statistics (raster.zonal_poly_stats): diamond
    (rotated-square) zones scattered into the 72-tile canvas region — the
    pixel mask is pip's even-odd ray-cast on pixel CENTERS, a fixed IEEE
    double expression DuckDB reproduces bit-for-bit, so rotated-geometry
    zonal sums are value-gated with NO tolerance.  Diamonds exclude ~half
    their bbox, so this genuinely exercises the polygon path, not the
    window math already covered by zonal_stats."""
    from tilematrix_spark import raster

    ev = _events(spark, sf_dir).filter(F.col("event_id") % 16 == 5)
    al, at = F.abs(F.col("lon")), F.abs(F.col("lat"))
    cx = F.lit(-89.0) + (al * F.lit(7.0) + at * F.lit(3.0)) % F.lit(60.0)
    cy = F.lit(13.0) + (at * F.lit(5.0) + al * F.lit(2.0)) % F.lit(26.0)
    w = F.lit(0.15) + al % F.lit(0.4)
    hh = F.lit(0.17) + at % F.lit(0.35)
    zones = ev.select(
        F.col("event_id").alias("zone_id"),
        F.array(cx + w, cx, cx - w, cx).alias("poly_x"),
        F.array(cy, cy + hh, cy, cy - hh).alias("poly_y"),
    )
    return raster.zonal_poly_stats(ZONAL_CANVAS.df(spark), zones, GEODETIC, 5)


def sql_zonal_poly() -> str:
    zoom = 5
    h = _d(_tile_size(zoom))
    px = _d(GEODETIC.pixel_x_size(zoom))
    diamond = [("cx + w", "cy"), ("cx", "cy + hh"), ("cx - w", "cy"), ("cx", "cy - hh")]
    return f"""
      WITH pts AS ({_EVENTS_SQL}),
      z0 AS (
        SELECT event_id AS zone_id,
          ({_d(-89.0)} + fmod(abs(lon) * {_d(7.0)} + abs(lat) * {_d(3.0)}, {_d(60.0)})) AS cx,
          ({_d(13.0)} + fmod(abs(lat) * {_d(5.0)} + abs(lon) * {_d(2.0)}, {_d(26.0)})) AS cy,
          ({_d(0.15)} + fmod(abs(lon), {_d(0.4)})) AS w,
          ({_d(0.17)} + fmod(abs(lat), {_d(0.35)})) AS hh
        FROM pts WHERE event_id % 16 = 5
      ),
      z AS (SELECT zone_id, cx, cy, w, hh,
                   cx - w AS zl, cy - hh AS zb, cx + w AS zr, cy + hh AS zt
            FROM z0),{_sql_zone_pixels("z", ("cx", "cy", "w", "hh"))},
      cand AS (
        SELECT zone_id, cx, cy, w, hh, trow, tcol, {_SQL_ZONAL_VAL} AS v,
          ({_d(LEFT)} + tcol * {h}) + (pj + {_d(0.5)}) * {px} AS cxp,
          ({_d(TOP)} - trow * {h}) - (pi + {_d(0.5)}) * {px} AS cyp
        FROM pix
      ),
      inside AS (
        SELECT zone_id, trow, tcol, v FROM cand
        WHERE {_pip_inside_sql([[diamond]], "cxp", "cyp")}
      ),
      t AS (SELECT zone_id, count(DISTINCT trow * 1000 + tcol) AS n_tiles
            FROM inside GROUP BY 1),
      agg AS (
        SELECT zone_id, count(*) AS n_px, CAST(sum(v) AS BIGINT) AS sum_val,
               CAST(min(v) AS BIGINT) AS min_val, CAST(max(v) AS BIGINT) AS max_val
        FROM inside GROUP BY 1
      )
      SELECT zone_id, CAST(n_tiles AS BIGINT) AS n_tiles, n_px, sum_val,
             min_val, max_val,
             CAST(sum_val AS DOUBLE) / CAST(n_px AS DOUBLE) AS mean_val
      FROM t JOIN agg USING (zone_id)
    """


def q_zonal_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal class histogram (raster.zonal_class_counts): per-zone pixel
    counts per category value over band 0 of the 72-tile formula canvas —
    same window semantics and broadcast shape as zonal_stats, but the
    kernel emits sparse bincounts and the final exchange groups on
    (zone, class).  All-integer output, hash-exact oracle."""
    from tilematrix_spark import raster

    return raster.zonal_class_counts(
        ZONAL_CANVAS.df(spark), _zonal_zones(spark, sf_dir), GEODETIC, 5
    )


def sql_zonal_classes() -> str:
    return f"""
      WITH {_SQL_BBOX_ZONES},{_sql_zone_pixels("z")},
      vals AS (SELECT zone_id, {_SQL_ZONAL_VAL} AS v FROM pix)
      SELECT zone_id, CAST(v AS INTEGER) AS class,
             CAST(count(*) AS BIGINT) AS n_px
      FROM vals GROUP BY 1, 2
    """


def q_zonal_majority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Majority class per zone (raster.zonal_majority — a composition over
    zonal_class_counts): highest pixel count, ties broken by the smallest
    class code.  Over the %251 formula canvas most small windows are
    tie-heavy (windows up to 529 px over 251 classes), so this gate
    primarily pins the cross-engine determinism of the tie-break window
    order plus the exact frac division; the two-class SEMANTICS are
    pytest-pinned."""
    from tilematrix_spark import raster

    return raster.zonal_majority(
        ZONAL_CANVAS.df(spark), _zonal_zones(spark, sf_dir), GEODETIC, 5
    )


def sql_zonal_majority() -> str:
    base = sql_zonal_classes()
    return f"""
      WITH cc AS ({base}),
      r AS (
        SELECT zone_id, class, n_px,
               row_number() OVER (PARTITION BY zone_id
                                  ORDER BY n_px DESC, class ASC) AS rn,
               CAST(sum(n_px) OVER (PARTITION BY zone_id) AS BIGINT)
                 AS n_zone_px
        FROM cc
      )
      SELECT zone_id, class AS majority_class, n_px, n_zone_px,
             CAST(n_px AS DOUBLE) / CAST(n_zone_px AS DOUBLE) AS frac
      FROM r WHERE rn = 1
    """


def q_focal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-tile halo-exchange focal statistics (raster.focal_stats): 5x5
    moving-window n/sum/min/max/trunc-mean over the 72-tile zonal canvas
    region at z5, sampled at every 577th pixel (~113 px/tile, 8k rows).
    The REAL halo pipeline runs — border strips ship to the 8 neighbors,
    the padded plane assembles per tile, and region-edge pixels aggregate
    partial windows (their neighbors are not materialized) — while the
    DuckDB oracle re-derives every window pixel from the canvas formula in
    GLOBAL pixel coordinates, so cross-tile neighborhoods are value-exact,
    not just row-counted."""
    from tilematrix_spark import raster

    out = raster.focal_stats(
        ZONAL_CANVAS.df(spark),
        GEODETIC,
        5,
        radius=2,
        band=0,
        emit="pixels",
        sample_mod=577,
        sample_off=11,
    )
    return _tile_keyed(out, "py", "px", "n_nbr", "sum_nbr", "min_nbr", "max_nbr", "mean_nbr")


def _sql_centers(tiles: str, off: int, mod: int) -> str:
    """The sampled pixels (every ``mod``-th from ``off``, the kernels'
    ``sample_mod``/``sample_off`` rule) of each (trow, tcol) of ``tiles``,
    zonal-region-sized: trow, tcol, py, px and the global gy, gx."""
    n = ZONAL_CANVAS.tile_px
    return f"""
        SELECT trow, tcol, s // {n} AS py, s % {n} AS px,
               trow * {n} + s // {n} AS gy, tcol * {n} + s % {n} AS gx
        FROM (SELECT trow, tcol, unnest(generate_series({off}, {n * n - 1}, {mod})) AS s
              FROM {tiles})"""


def _sql_window(radius: int) -> str:
    """Each ``ctr`` center's (2r+1)^2 window: offsets dy, dx and global
    pixel gy2, gx2."""
    return f"""
        SELECT trow, tcol, py, px, dy, dx, gy + dy AS gy2, gx + dx AS gx2
        FROM (SELECT *, unnest(generate_series(-{radius}, {radius})) AS dy FROM ctr),
             (SELECT unnest(generate_series(-{radius}, {radius})) AS dx)"""


def _sql_focal(tiles: str, off: int, mod: int, radius: int, val: str) -> str:
    """Focal n/sum/min/max/trunc-mean in global pixel space: each sampled
    center of ``tiles`` aggregates ``val`` (the value at gy2, gx2) over its
    window clipped to the materialized zonal region."""
    return f"""
      WITH ctr AS ({_sql_centers(tiles, off, mod)}),
      win AS ({_sql_window(radius)}
        WHERE {ZONAL_CANVAS.sql_inside("gy + dy", "gx + dx")}),
      v AS (SELECT trow, tcol, py, px, {val} AS val FROM win)
      SELECT trow AS tile_row, tcol AS tile_col,
             CAST(py AS INTEGER) AS py, CAST(px AS INTEGER) AS px,
             count(*) AS n_nbr,
             CAST(sum(val) AS BIGINT) AS sum_nbr,
             CAST(min(val) AS INTEGER) AS min_nbr,
             CAST(max(val) AS INTEGER) AS max_nbr,
             CAST(sum(val) AS BIGINT) // count(*) AS mean_nbr
      FROM v GROUP BY 1, 2, 3, 4
    """


def sql_focal_stats() -> str:
    """Every sampled pixel's 5x5 window clips to the zonal region."""
    return _sql_focal(
        f"({ZONAL_CANVAS.sql_tiles()})", 11, 577, 2, ZONAL_CANVAS.sql_gvalue("gy2", "gx2")
    )


def q_incremental_focal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental stencil maintenance (incremental.incremental_focal): an
    update batch replaces the canvases of every (row+col)%5==2 tile in the
    zonal region with a second formula; the engine recomputes focal stats
    for ONLY the dirty tiles + their neighbor ring (inputs restricted by a
    broadcast semi-join to ring(ring(dirty)) before any bytes move).  The
    oracle re-derives the MIXED corpus per window pixel and restricts
    output keys to ring(dirty) ∩ region — so both the delta's key set and
    its values (byte-equivalent: the same n/sum/min/max/mean surface as
    focal_stats) are value-exact."""
    from tilematrix_spark import incremental

    out = incremental.incremental_focal(
        ZONAL_CANVAS.df(spark),
        FOCAL_UPDATE_CANVAS.df(spark),
        GEODETIC,
        5,
        radius=1,
        emit="pixels",
        sample_mod=277,
        sample_off=3,
    )
    return _tile_keyed(out, "py", "px", "n_nbr", "sum_nbr", "min_nbr", "max_nbr", "mean_nbr")


def sql_incremental_focal() -> str:
    """Output keys are ring(dirty) within the region; each window pixel
    reads the update formula inside a dirty tile, the base one elsewhere."""
    keys = f"""(
          SELECT DISTINCT t.trow, t.tcol
          FROM ({ZONAL_CANVAS.sql_tiles()}) t
          JOIN ({FOCAL_UPDATE_CANVAS.sql_tiles()}) d
          ON abs(t.trow - d.trow) <= 1 AND abs(t.tcol - d.tcol) <= 1)"""
    val = (
        f"CASE WHEN {FOCAL_UPDATE_CANVAS.sql_keep('gy2', 'gx2')}"
        f" THEN {FOCAL_UPDATE_CANVAS.sql_gvalue('gy2', 'gx2')}"
        f" ELSE {ZONAL_CANVAS.sql_gvalue('gy2', 'gx2')} END"
    )
    return _sql_focal(keys, 3, 277, 1, val)


def q_focal_gradient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-tile Sobel gradient (raster.focal_gradient): integer gx/gy
    numerators + squared magnitude over the zonal canvas region, sampled at
    every 311th pixel; pixels whose 3x3 window crosses the region edge are
    dropped (gradient needs all 9 samples).  Shares focal_stats's halo
    exchange; the oracle re-derives each window pixel from the canvas
    formula in global pixel coordinates with Sobel weights."""
    from tilematrix_spark import raster

    out = raster.focal_gradient(
        ZONAL_CANVAS.df(spark),
        GEODETIC,
        5,
        band=0,
        emit="pixels",
        sample_mod=311,
        sample_off=5,
    )
    return _tile_keyed(out, "py", "px", "gx_num", "gy_num", "mag2")


def _sql_sobel(off: int, mod: int) -> str:
    """CTEs ending in ``g``: integer Sobel numerators gx_num/gy_num (wx =
    dx*(2 if dy=0 else 1), wy symmetric) of the sampled zonal-region
    centers whose full 3x3 window lies inside the region."""
    return f"""
      ctr AS (
        SELECT * FROM ({_sql_centers(f"({ZONAL_CANVAS.sql_tiles()})", off, mod)})
        WHERE {ZONAL_CANVAS.sql_inside("gy", "gx", margin=1)}
      ),
      win AS ({_sql_window(1)}),
      v AS (
        SELECT trow, tcol, py, px, dy, dx,
               {ZONAL_CANVAS.sql_gvalue("gy2", "gx2")} AS val
        FROM win
      ),
      g AS (
        SELECT trow, tcol, py, px,
               CAST(sum(val * dx * (CASE WHEN dy = 0 THEN 2 ELSE 1 END))
                 AS BIGINT) AS gx_num,
               CAST(sum(val * dy * (CASE WHEN dx = 0 THEN 2 ELSE 1 END))
                 AS BIGINT) AS gy_num
        FROM v GROUP BY 1, 2, 3, 4
      )"""


def sql_focal_gradient() -> str:
    return f"""
      WITH {_sql_sobel(5, 311)}
      SELECT trow AS tile_row, tcol AS tile_col,
             CAST(py AS INTEGER) AS py, CAST(px AS INTEGER) AS px,
             gx_num, gy_num, gx_num * gx_num + gy_num * gy_num AS mag2
      FROM g
    """


def q_hillshade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horn hillshade (raster.hillshade): the trig-flavored terrain product
    made bit-exact cross-engine — integer Sobel numerators define the
    normal (-gx, -gy, 512), the integer light L = (-5, -5, 7) (GDAL's
    az=315/alt=45 rationalized) gives dot and den2 as exact int64, and
    hs = dot / sqrt(den2) is ONE correctly-rounded sqrt + ONE division,
    IEEE-identical in numpy, Spark, and DuckDB (the retrieval_recall
    trick).  Shares focal_stats's halo exchange; window-incomplete pixels
    dropped.  Sampled at every 349th pixel over the zonal canvas region."""
    from tilematrix_spark import raster

    out = raster.hillshade(
        ZONAL_CANVAS.df(spark),
        GEODETIC,
        5,
        band=0,
        light=(-5, -5, 7),
        nz=512,
        emit="pixels",
        sample_mod=349,
        sample_off=13,
    )
    return _tile_keyed(out, "py", "px", "dot", "den2", "hs")


def sql_hillshade() -> str:
    """Sobel numerators as sql_focal_gradient, then dot = 5*gx + 5*gy +
    7*512 (L=(-5,-5,7), nz=512), den2 = 99*(gx^2 + gy^2 + 512^2), hs =
    dot/sqrt(den2) — both operands exact integers, so the double result is
    bit-identical."""
    return f"""
      WITH {_sql_sobel(13, 349)},
      hsq AS (
        SELECT trow, tcol, py, px,
               5 * gx_num + 5 * gy_num + 7 * 512 AS dot,
               99 * (gx_num * gx_num + gy_num * gy_num + 262144) AS den2
        FROM g
      )
      SELECT trow AS tile_row, tcol AS tile_col,
             CAST(py AS INTEGER) AS py, CAST(px AS INTEGER) AS px,
             dot, den2,
             CAST(dot AS DOUBLE) / sqrt(CAST(den2 AS DOUBLE)) AS hs
      FROM hsq
    """


def q_upsample_children(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overzoom (raster.upsample_children): 2x bilinear upsampling of the
    z5 zonal canvas region into its 288 z6 children — the serve-a-deeper-
    zoom path, the inverse of overview_level.  Exactly-2x bilinear
    degenerates to integer 1/4-3/4 weights, so `num` (the 16x numerator)
    and `val` ((num+8)//16) are integer-exact in any engine; child seam
    pixels read neighbor-tile bytes via the radius-1 halo exchange and
    region-edge pixels follow the separable clamp rule the oracle mirrors
    in global pixel coordinates.  Sampled at every 2311th child pixel
    (~28 px/child tile, ~8.2k rows)."""
    from tilematrix_spark import raster

    out = raster.upsample_children(
        ZONAL_CANVAS.df(spark),
        GEODETIC,
        5,
        band=0,
        emit="pixels",
        sample_mod=2311,
        sample_off=7,
    )
    return _tile_keyed(out, "py", "px", "num", "val")


def sql_upsample_children() -> str:
    """2x bilinear mirror in global CHILD pixel space over the z6 children
    of the zonal region: child pixel gy maps to parent rows (gy//2 - 1,
    gy//2) with weights (1, 3) when gy is even and (gy//2, gy//2 + 1) with
    (3, 1) when odd (same for gx), parent coords clamped per-axis to the
    materialized region."""
    fx = ZONAL_CANVAS
    n = fx.tile_px
    children = _sql_grid(range(2 * fx.rows.start, 2 * fx.rows.stop),
                         range(2 * fx.cols.start, 2 * fx.cols.stop))
    return f"""
      WITH ctr AS ({_sql_centers(f"({children})", 7, 2311)}),
      w AS (
        SELECT trow, tcol, py, px,
          CASE WHEN gy % 2 = 0 THEN gy // 2 - 1 ELSE gy // 2 END AS ky0,
          CASE WHEN gy % 2 = 0 THEN 1 ELSE 3 END AS wy0,
          CASE WHEN gx % 2 = 0 THEN gx // 2 - 1 ELSE gx // 2 END AS kx0,
          CASE WHEN gx % 2 = 0 THEN 1 ELSE 3 END AS wx0
        FROM ctr
      ),
      corners AS (
        SELECT trow, tcol, py, px,
          greatest({fx.rows.start * n}, least(ky0 + iy, {fx.rows.stop * n - 1})) AS ky,
          greatest({fx.cols.start * n}, least(kx0 + ix, {fx.cols.stop * n - 1})) AS kx,
          (CASE WHEN iy = 0 THEN wy0 ELSE 4 - wy0 END)
            * (CASE WHEN ix = 0 THEN wx0 ELSE 4 - wx0 END) AS wt
        FROM (SELECT *, unnest(generate_series(0, 1)) AS iy FROM w),
             (SELECT unnest(generate_series(0, 1)) AS ix)
      ),
      v AS (
        SELECT trow, tcol, py, px, wt * {fx.sql_gvalue("ky", "kx")} AS term
        FROM corners
      )
      SELECT trow AS tile_row, tcol AS tile_col,
             CAST(py AS INTEGER) AS py, CAST(px AS INTEGER) AS px,
             CAST(sum(term) AS BIGINT) AS num,
             CAST((CAST(sum(term) AS BIGINT) + 8) // 16 AS INTEGER) AS val
      FROM v GROUP BY 1, 2, 3, 4
    """


def q_raster_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal change detection (raster.diff_tiles): join two epochs of
    the 72-tile zonal region on the tile key (the only data movement; on a
    bucketed store it co-locates) and reduce each canvas pair to per-tile
    |delta| statistics in one vectorized Arrow pass.  Epochs carry the two
    integer canvas formulas, so the oracle re-derives every pixel of BOTH
    epochs and the stats are value-exact."""
    from tilematrix_spark import raster

    out = raster.diff_tiles(ZONAL_CANVAS.df(spark), EPOCH_B_CANVAS.df(spark), band=0)
    return _tile_keyed(out, "n_px", "n_diff", "sum_abs", "max_abs")


def sql_raster_diff() -> str:
    """Both epochs per pixel over the full 72x65536-pixel region (epoch B
    read at epoch A's pixels: the two share the grid); n_diff via FILTER
    (no HUGEINT), sums cast to BIGINT."""
    return f"""
      WITH v AS (
        SELECT trow, tcol, abs(v - {EPOCH_B_CANVAS.sql_value()}) AS d
        FROM ({ZONAL_CANVAS.sql_pixels()})
      )
      SELECT trow AS tile_row, tcol AS tile_col,
             count(*) AS n_px,
             count(*) FILTER (WHERE d <> 0) AS n_diff,
             CAST(sum(d) AS BIGINT) AS sum_abs,
             CAST(max(d) AS INTEGER) AS max_abs
      FROM v GROUP BY 1, 2
    """


def q_pyramid_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pyramid consistency audit — pure composition of existing operators:
    diff_tiles(claimed_parents, overview_level(children), band=None).
    Detects stale/corrupt overview tiles at petabyte scale: a parent is
    consistent iff it equals the exact 2x2 integer box filter of its four
    children (n_diff == 0).  24 of the 72 parents are planted correct; the
    oracle re-derives every parent pixel-band from BOTH the stale formula
    and the four child formulas, so n_diff/sum_abs/max_abs are value-exact
    including the coincidental matches inside stale tiles."""
    from tilematrix_spark import raster

    ov = raster.overview_level(AUDIT_CHILDREN.df(spark))
    parents = AUDIT_PLANTED.df(spark).unionByName(AUDIT_STALE.df(spark))
    out = raster.diff_tiles(parents, ov, band=None)
    return _tile_keyed(
        out, "n_px", "n_diff", "sum_abs", "max_abs", (F.col("n_diff") == 0).cast("int").alias("ok")
    )


def sql_pyramid_audit() -> str:
    """Per-pixel-band mirror: every claimed parent pixel (planted or stale)
    against the true overview of the children, which is the planted
    fixture's formula read at that pixel."""
    return f"""
      WITH d AS (
        SELECT trow, tcol, abs(v - {AUDIT_PLANTED.sql_value("b")}) AS dv
        FROM ({AUDIT_PLANTED.sql_pixels()}
              UNION ALL {AUDIT_STALE.sql_pixels()})
      )
      SELECT trow AS tile_row, tcol AS tile_col,
             count(*) AS n_px,
             count(*) FILTER (WHERE dv <> 0) AS n_diff,
             CAST(sum(dv) AS BIGINT) AS sum_abs,
             CAST(max(dv) AS INTEGER) AS max_abs,
             CAST(CASE WHEN count(*) FILTER (WHERE dv <> 0) = 0
                  THEN 1 ELSE 0 END AS INTEGER) AS ok
      FROM d GROUP BY 1, 2
    """


def q_raster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global 256-bin histogram (raster.global_histogram) over the 72-tile
    zonal canvas region — pass 1 of the contrast stretch.  Map-side combine
    is explicit (one numpy bincount per Arrow batch, <= 256 rows emitted per
    partition), so the shuffle is O(256 x partitions) regardless of canvas
    bytes.  The oracle counts every pixel of the fixture's SQL pixels."""
    from tilematrix_spark import raster

    out = raster.global_histogram(ZONAL_CANVAS.df(spark), band=0)
    return out.select(F.col("val"), F.col("n_px"))


_HIST_SQL = f"""
      hist AS (
        SELECT v AS val, count(*) AS n_px
        FROM ({ZONAL_CANVAS.sql_pixels()}) GROUP BY 1
      )
"""


def sql_raster_histogram() -> str:
    return f"""
      WITH {_HIST_SQL}
      SELECT CAST(val AS INTEGER) AS val, n_px FROM hist
    """


def q_contrast_stretch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-pass global percentile contrast stretch (raster.contrast_stretch)
    over the zonal region: pass 1 the 256-row histogram, integer ceil-rank
    p2/p98 cut points, pass 2 an in-closure LUT remap
    clamp(((v - p_lo) * 255) // (p_hi - p_lo), 0, 255) — every step exact
    integer, so the oracle re-derives histogram, cuts, and remap in SQL.
    Sampled at every 577th pixel (offset 101)."""
    from tilematrix_spark import raster

    out = raster.contrast_stretch(
        ZONAL_CANVAS.df(spark),
        band=0,
        lo_pct=2,
        hi_pct=98,
        emit="pixels",
        sample_mod=577,
        sample_off=101,
    )
    return _tile_keyed(out, "py", "px", "v_in", "v_out")


def sql_contrast_stretch() -> str:
    """Stretch mirror: cut points as the smallest value whose cumulative
    count reaches ceil(q*total/100) (integer ceil via -((-q*t)//100)),
    remap with DuckDB's floor `//` (matches numpy/Python floor division;
    negatives clamp to 0 anyway)."""
    return f"""
      WITH {_HIST_SQL},
      cum AS (
        SELECT val, n_px, sum(n_px) OVER (ORDER BY val) AS cumn FROM hist
      ),
      tot AS (SELECT CAST(sum(n_px) AS BIGINT) AS t FROM hist),
      cuts AS (
        SELECT
          (SELECT min(val) FROM cum, tot WHERE cumn >= -((-2 * t) // 100))
            AS p_lo,
          (SELECT min(val) FROM cum, tot WHERE cumn >= -((-98 * t) // 100))
            AS p_hi
      ),
      ctr AS (
        SELECT trow, tcol, py, px, {ZONAL_CANVAS.sql_value(i="py", j="px")} AS v_in
        FROM ({_sql_centers(f"({ZONAL_CANVAS.sql_tiles()})", 101, 577)})
      )
      SELECT trow AS tile_row, tcol AS tile_col,
             CAST(py AS INTEGER) AS py, CAST(px AS INTEGER) AS px,
             CAST(v_in AS INTEGER) AS v_in,
             CAST(CASE WHEN p_hi > p_lo THEN
                    least(greatest(((v_in - p_lo) * 255) // (p_hi - p_lo), 0),
                          255)
                  WHEN v_in >= p_hi THEN 255 ELSE 0 END AS INTEGER) AS v_out
      FROM ctr, cuts
    """


def q_incremental_dirty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental pyramid maintenance work estimate
    (incremental.dirty_tile_stats): the z6 tiles dirtied by an append batch
    (image ids >= 800 of a 1000-image corpus) with new vs total contributor
    counts — the planner surface whose keys drive the delta recompose.
    Full per-tile value parity vs the windows-SQL mirror; canvas-delta
    bytes are pinned by tests/test_incremental.py (incremental == full
    rebuild, byte-identical)."""
    from tilematrix_spark import images as imglib
    from tilematrix_spark import incremental

    df = imglib.images_df(spark, 1000, partitions=16)
    split = "img%012d" % 800
    old = df.filter(F.col("image_id") < split)
    upd = df.filter(F.col("image_id") >= split)
    out = incremental.dirty_tile_stats(old, upd, GEODETIC, 6)
    return out.select(
        F.col("row").alias("tile_row"),
        F.col("col").alias("tile_col"),
        F.col("n_new").cast("long").alias("n_new"),
        F.col("n_total").cast("long").alias("n_total"),
    )


def sql_incremental_dirty() -> str:
    """Dirty-tile stats over the windows mirror: per z6 tile, contributors
    from the update slice (id >= 800) and from the whole corpus; dirty
    tiles only (n_new > 0)."""
    return f"""
      SELECT tile_row, tile_col,
             count(*) FILTER (WHERE CAST(substring(image_id, 4) AS BIGINT)
                 >= 800) AS n_new,
             count(*) AS n_total
      FROM ({sql_raster_windows(n=1000)})
      WHERE win_width > 0 AND win_height > 0
      GROUP BY 1, 2
      HAVING count(*) FILTER (WHERE CAST(substring(image_id, 4) AS BIGINT)
             >= 800) > 0
    """


def q_incremental_propagate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental pyramid delta PROPAGATION (incremental.merged_level +
    propagate_level): an append batch (ids >= 300 of a 400-image corpus)
    dirties z6, then ONE real propagate step runs — the committed z6 level
    merged with the delta (broadcast key-replace), dirty z5 parents'
    children pulled from the merged view and box-filtered down.  The
    oracle gates the propagation surface: which z5 parents rebuild and how
    many CURRENT z6 children each consumed (merged coverage = committed ∪
    dirty keys = full-corpus cover).  Delta canvas bytes are pinned
    byte-identical to a full rebuild by tests/test_incremental.py."""
    from tilematrix_spark import images as imglib
    from tilematrix_spark import incremental, raster

    df = imglib.images_df(spark, 400, partitions=8)
    split = "img%012d" % 300
    old = df.filter(F.col("image_id") < split)
    upd = df.filter(F.col("image_id") >= split)
    committed = raster.compose_tiles(old, GEODETIC, 6)
    delta = incremental.incremental_compose(old, upd, GEODETIC, 6)
    current = incremental.merged_level(committed, delta)
    out = incremental.propagate_level(current, delta.select("row", "col"))
    return out.select(
        F.col("row").alias("tile_row"),
        F.col("col").alias("tile_col"),
        F.col("n_children").cast("long").alias("n_children"),
    )


def sql_incremental_propagate() -> str:
    """Dirty z5 parents after one propagate step: parents of the tiles the
    update slice dirties, with child counts over the MERGED z6 coverage
    (committed-old-cover ∪ dirty keys ≡ the full corpus' cover)."""
    return f"""
      WITH wins AS (
        SELECT * FROM ({sql_raster_windows(n=400)})
        WHERE win_width > 0 AND win_height > 0
      ),
      cover AS (SELECT DISTINCT tile_row, tile_col FROM wins),
      dirty AS (
        SELECT DISTINCT tile_row, tile_col FROM wins
        WHERE CAST(substring(image_id, 4) AS BIGINT) >= 300
      ),
      parents AS (SELECT DISTINCT tile_row // 2 AS pr, tile_col // 2 AS pc FROM dirty)
      SELECT c.tile_row // 2 AS tile_row, c.tile_col // 2 AS tile_col,
             count(*) AS n_children
      FROM cover c JOIN parents p
        ON c.tile_row // 2 = p.pr AND c.tile_col // 2 = p.pc
      GROUP BY 1, 2
    """


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-ANN top-3 at FULL probe (nprobe = n_centroids): the quantizer,
    cell assignment, probe join and exact re-rank all execute, and full
    probe makes the candidate union provably the whole corpus — so the
    DuckDB brute-force top-k is an exact value oracle for the entire IVF
    pipeline, independent of the quantizer."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 32).select(F.col("vec_id").alias("qid"), "embedding")
    out = simfns.ivf_topk(queries, emb, k=3, n_centroids=16, nprobe=16)
    return out.select("qid", "vec_id", F.col("rank").cast("int").alias("rank"))


def sql_ann_ivf_topk() -> str:
    """Full-probe IVF == brute force (every corpus vector is probed exactly
    once), so the oracle is the brute-force cosine top-3."""
    return _sql_cosine_topk(32, 3)


def q_ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-ANN at a PRUNED probe (nprobe=4 of 16 cells) reported as
    recall@1 against brute force.  Cells come from the integer coarse
    quantizer, so the pruning is integer-exact and the query has a full
    value oracle (sql_ann_ivf_recall)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 32).select(F.col("vec_id").alias("qid"), "embedding")
    exact = simfns.cosine_topk(queries, emb, k=1, query_id="qid")
    approx = simfns.ivf_topk(queries, emb, k=1, n_centroids=16, nprobe=4)
    hits = exact.withColumnRenamed("vec_id", "e_id").join(
        approx.withColumnRenamed("vec_id", "a_id"), ["qid", "rank"], "left"
    ).select("qid", (F.col("e_id") == F.col("a_id")).cast("int").alias("hit"))
    return hits.agg(
        F.count("*").alias("n_queries"), F.sum("hit").alias("recall_at_1_hits")
    )


def sql_ann_ivf_recall() -> str:
    """Brute-force and probed-cell top-1 over the same cosine scores: the
    probed top-1 keeps only candidates whose integer cell is among the
    query's 4 nearest, both in (distance, cell id) order."""
    return f"""
      WITH {_sql_cosine_scored(32)},
      {_sql_int_cells(16, 4)},
      exact AS (
        SELECT qid, vec_id FROM (
          SELECT qid, vec_id,
            row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rn
          FROM scored) WHERE rn = 1
      ),
      approx AS (
        SELECT qid, vec_id FROM (
          SELECT s.qid, s.vec_id,
            row_number() OVER (PARTITION BY s.qid ORDER BY s.sim DESC, s.vec_id ASC) AS rn
          FROM scored s
          JOIN cells cl ON cl.vec_id = s.vec_id
          JOIN qprobe p ON p.qid = s.qid AND p.cell = cl.cell) WHERE rn = 1
      )
      SELECT count(*) AS n_queries,
             CAST(sum(CAST(e.vec_id = a.vec_id AS INTEGER)) AS BIGINT) AS recall_at_1_hits
      FROM exact e LEFT JOIN approx a USING (qid)
    """


#: portable-LSH parameters shared by the Spark query and its SQL oracle
_ANN_LSH_DIM = 64
_ANN_LSH_BITS = 32
_ANN_LSH_BANDS = 4


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via PORTABLE sign-LSH (md5-derived ±1 planes over
    integer-quantized vectors — bucket assignment is integer-exact, so the
    DuckDB oracle mirrors the full pipeline: bucketing, band-join candidate
    generation, exact cosine re-rank) emitting the top-3 rows per query."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 32).select(F.col("vec_id").alias("qid"), "embedding")
    out = simfns.lsh_topk(
        queries, emb, k=3, dim=_ANN_LSH_DIM,
        num_bits=_ANN_LSH_BITS, bands=_ANN_LSH_BANDS,
    )
    return out.select("qid", "vec_id", F.col("rank").cast("int").alias("rank"))


def sql_ann_lsh_topk() -> str:
    """Full SQL mirror of the portable LSH pipeline: quantize
    floor(v*1000+0.5) (exact double op both engines), project onto the same
    md5-derived ±1 planes (inlined literals; integer sums are exact in
    double), pack band keys, candidates = share ≥1 band bucket, exact
    cosine top-3 re-rank with the same rounding and tie order."""
    planes = simfns.portable_sign_planes(_ANN_LSH_DIM, _ANN_LSH_BITS)
    bpb = _ANN_LSH_BITS // _ANN_LSH_BANDS
    band_exprs = []
    for b in range(_ANN_LSH_BANDS):
        terms = []
        for j in range(bpb):
            plane = planes[:, b * bpb + j]
            # ::DOUBLE[] cast per the repo literal rule (bare decimals parse
            # as DECIMAL); ±1 happen to be exact either way, but the rule
            # keeps the pattern copy-safe
            lit = "[" + ", ".join(f"{int(s)}.0" for s in plane) + "]::DOUBLE[]"
            terms.append(
                f"CASE WHEN list_dot_product(iv, {lit}) > {_d(0.0)} THEN {1 << j} ELSE 0 END"
            )
        band_exprs.append("(" + " + ".join(terms) + f") AS bk{b}")
    bands_sel = ",\n          ".join(band_exprs)
    on = " OR ".join(f"q.bk{b} = c.bk{b}" for b in range(_ANN_LSH_BANDS))
    return f"""
      WITH keyed AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
          {bands_sel}
        FROM (
          SELECT vec_id, embedding,
            list_transform(embedding::DOUBLE[],
                           x -> floor(x * {_d(simfns.PORTABLE_SCALE)} + {_d(0.5)})) AS iv
          FROM embeddings
        )
      ),
      q AS (SELECT * FROM keyed WHERE vec_id < 32),
      cand AS (
        SELECT DISTINCT q.vec_id AS qid, c.vec_id AS cid
        FROM q JOIN keyed c ON ({on})
        WHERE q.vec_id <> c.vec_id
      ),
      scored AS (
        SELECT cand.qid, cand.cid AS vec_id,
          round(list_dot_product(q.v, c.v)
            / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 6) AS sim
        FROM cand
        JOIN q ON cand.qid = q.vec_id
        JOIN keyed c ON cand.cid = c.vec_id
      )
      SELECT qid, vec_id, rank::INTEGER AS rank FROM (
        SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rank
        FROM scored
      ) WHERE rank <= 3
    """


def q_tile_morton(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) write-clustering key for the distinct z8 tiles hit
    by events: row/col bits interleaved via the mask-shift spread — the
    sort key that co-locates spatially adjacent tiles in files at scale."""
    pts = _events(spark, sf_dir)
    tiled = assign.with_tile(pts, GEODETIC, 8, "lon", "lat", out_tile_id=None)
    tiles = tiled.select("row", "col").distinct()
    return tiles.select(
        F.col("row").alias("tile_row"),
        F.col("col").alias("tile_col"),
        exprs.morton_id("row", "col").alias("morton"),
    )


def sql_tile_morton() -> str:
    def spread(v: str) -> str:
        x = f"({v} & 4294967295)"
        for sh, mask in (
            (16, 0x0000FFFF0000FFFF),
            (8, 0x00FF00FF00FF00FF),
            (4, 0x0F0F0F0F0F0F0F0F),
            (2, 0x3333333333333333),
            (1, 0x5555555555555555),
        ):
            x = f"((({x} | ({x} << {sh})) & {mask}))"
        return x

    morton = f"(({spread('tile_row')} << 1) | {spread('tile_col')})"
    return f"""
      WITH pts AS ({_EVENTS_SQL}), tiled AS ({_tiles_sql(8)}),
      tiles AS (SELECT DISTINCT tile_row, tile_col FROM tiled WHERE {_valid_sql(8)})
      SELECT tile_row, tile_col, {morton} AS morton FROM tiles
    """


_ZORDER_BBOX = (-30.0, 10.0, 60.0, 55.0)  # (left, bottom, right, top)


def _zorder_tile_range(zoom: int = 8) -> tuple[int, int, int, int]:
    """Integer tile-range of _ZORDER_BBOX at ``zoom`` — computed ONCE in the
    driver and used as identical literals in both the Spark filter and the
    SQL oracle (no cross-engine float parity involved)."""
    left, bottom, right, top = _ZORDER_BBOX
    h = GEODETIC.tile_x_size(zoom)
    return (
        int((TOP - top) / h), int((TOP - bottom) / h),
        int((left - LEFT) / h), int((right - LEFT) / h),
    )


def q_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order sink write/read roundtrip gate: the z8 tile histogram is
    clustered on the Morton curve (``cover.batch_z_order`` — repartitionByRange
    + sort on the interleaved-bit key), written to a scratch parquet sink, and
    read back with the bbox's raw row/col range predicates.  Because the
    Z-layout gives every file tight min-max stats on BOTH row and col, the
    2D predicate prunes files/row-groups instead of scanning the zoom level
    (measured 21x row-group pruning; re-benched per round in bench.py).
    Values are oracled against computing the same selection directly from
    events, so a layout bug that drops/duplicates tiles fails the hard gate."""
    import os
    import tempfile

    pts = _events(spark, sf_dir)
    tiled = assign.with_tile(pts, GEODETIC, 8, "lon", "lat", out_tile_id=None)
    hist = assign.salted_agg(tiled, ["row", "col"], {"n": "count:*"}, salt_buckets=16)
    out = os.path.join(
        tempfile.gettempdir(), "tmx_zorder_scan",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    cover.batch_z_order(hist).write.mode("overwrite").parquet(out)
    r0, r1, c0, c1 = _zorder_tile_range()
    return (
        spark.read.parquet(out)
        .filter(
            (F.col("row") >= r0) & (F.col("row") <= r1)
            & (F.col("col") >= c0) & (F.col("col") <= c1)
        )
        .select(F.col("row").alias("tile_row"), F.col("col").alias("tile_col"), "n")
    )


def sql_zorder_scan() -> str:
    r0, r1, c0, c1 = _zorder_tile_range()
    return f"""
      WITH pts AS ({_EVENTS_SQL}), tiled AS ({_tiles_sql(8)}),
      hist AS (
        SELECT tile_row, tile_col, count(*) AS n
        FROM tiled WHERE {_valid_sql(8)}
        GROUP BY tile_row, tile_col
      )
      SELECT tile_row, tile_col, n FROM hist
      WHERE tile_row BETWEEN {r0} AND {r1} AND tile_col BETWEEN {c0} AND {c1}
    """


GEO_MT4 = PyramidConfig.create("geodetic", metatiling=4)


def q_cover_bbox_mt4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O25-O27 bbox cover on the METATILED (mt=4) geodetic pyramid at z4 —
    metatile-sized corner math + matrix dims (reference `_funcs.py:220-237`
    with metatiling; mirrors test_tile_shapes' mt>1 cases relationally)."""
    boxes = _event_boxes(spark, sf_dir)
    out = cover.tiles_from_bounds(
        boxes, GEO_MT4, 4, left="bl", bottom="bb", right="br", top="bt",
        out_row="tile_row", out_col="tile_col",
    )
    return out.select("event_id", "tile_row", "tile_col")


def sql_cover_bbox_mt4() -> str:
    return _cover_sql(_EVENT_BOXES_SQL, 4, GEO_MT4)


def _event_boxes_merc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event boxes in MERCATOR map units (hundreds of km), ~2% crossing the
    antimeridian edge of the mercator square."""
    df = spark.read.parquet(f"{sf_dir}/events.parquet").filter(F.col("event_id") % 20 == 0)
    r = MERC_R
    cx = F.lit(-r) + (F.col("event_id") * F.lit(PHI1)) % F.lit(1.0) * F.lit(2 * r)
    cy = F.lit(-r) + (F.col("event_id") * F.lit(PHI2)) % F.lit(1.0) * F.lit(2 * r)
    w = (F.lit(1.0) + (F.col("event_id") % 7).cast("double")) * F.lit(2.0e5)
    h = (F.lit(1.0) + (F.col("event_id") % 5).cast("double")) * F.lit(1.5e5)
    left = F.when(F.col("event_id") % 50 == 0, F.lit(r - 3.0e5)).otherwise(cx)
    return df.select(
        "event_id",
        left.alias("bl"),
        F.greatest(cy - h, F.lit(-r)).alias("bb"),
        (left + w).alias("br"),
        F.least(cy + h, F.lit(r)).alias("bt"),
    )


def _event_boxes_merc_sql() -> str:
    r = MERC_R
    cx = f"({_d(-r)} + fmod(event_id * {_d(PHI1)}, {_d(1.0)}) * {_d(2 * r)})"
    cy = f"({_d(-r)} + fmod(event_id * {_d(PHI2)}, {_d(1.0)}) * {_d(2 * r)})"
    w = f"(({_d(1.0)} + CAST(event_id % 7 AS DOUBLE)) * {_d(2.0e5)})"
    h = f"(({_d(1.0)} + CAST(event_id % 5 AS DOUBLE)) * {_d(1.5e5)})"
    left = f"CASE WHEN event_id % 50 = 0 THEN {_d(r - 3.0e5)} ELSE {cx} END"
    return f"""
      SELECT event_id,
        {left} AS bl,
        greatest({cy} - {h}, {_d(-r)}) AS bb,
        ({left}) + {w} AS br,
        least({cy} + {h}, {_d(r)}) AS bt
      FROM events WHERE event_id % 20 = 0
    """


def q_cover_bbox_mercator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O25-O27 bbox cover on the MERCATOR pyramid at z5 (different bounds,
    square zoom-0 shape, antimeridian crossing in map units)."""
    boxes = _event_boxes_merc(spark, sf_dir)
    out = cover.tiles_from_bounds(
        boxes, MERCATOR_TP, 5, left="bl", bottom="bb", right="br", top="bt",
        out_row="tile_row", out_col="tile_col",
    )
    return out.select("event_id", "tile_row", "tile_col")


def sql_cover_bbox_mercator() -> str:
    return _cover_sql(_event_boxes_merc_sql(), 5, MERCATOR_TP)


def _event_boxes_custom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boxes on the NON-GLOBAL irregular EPSG:31259 grid, some overflowing
    the grid bounds (clip-at-matrix-range semantics, no wrap)."""
    tp = IRREGULAR_TP
    sx, sy = tp.right - tp.left, tp.top - tp.bottom
    df = spark.read.parquet(f"{sf_dir}/events.parquet").filter(F.col("event_id") % 20 == 0)
    cx = F.lit(tp.left) + (F.col("event_id") * F.lit(PHI1)) % F.lit(1.0) * F.lit(sx)
    cy = F.lit(tp.bottom) + (F.col("event_id") * F.lit(PHI2)) % F.lit(1.0) * F.lit(sy)
    w = (F.lit(1.0) + (F.col("event_id") % 7).cast("double")) * F.lit(sx / 1000.0)
    h = (F.lit(1.0) + (F.col("event_id") % 5).cast("double")) * F.lit(sy / 1000.0)
    return df.select(
        "event_id",
        (cx - w).alias("bl"), (cy - h).alias("bb"),
        (cx + w).alias("br"), (cy + h).alias("bt"),
    )


def _event_boxes_custom_sql() -> str:
    tp = IRREGULAR_TP
    sx, sy = tp.right - tp.left, tp.top - tp.bottom
    cx = f"({_d(tp.left)} + fmod(event_id * {_d(PHI1)}, {_d(1.0)}) * {_d(sx)})"
    cy = f"({_d(tp.bottom)} + fmod(event_id * {_d(PHI2)}, {_d(1.0)}) * {_d(sy)})"
    w = f"(({_d(1.0)} + CAST(event_id % 7 AS DOUBLE)) * {_d(sx / 1000.0)})"
    h = f"(({_d(1.0)} + CAST(event_id % 5 AS DOUBLE)) * {_d(sy / 1000.0)})"
    return f"""
      SELECT event_id,
        {cx} - {w} AS bl, {cy} - {h} AS bb,
        {cx} + {w} AS br, {cy} + {h} AS bt
      FROM events WHERE event_id % 20 = 0
    """


def q_cover_bbox_custom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O25-O27 bbox cover on the NON-GLOBAL custom grid: no antimeridian
    logic, out-of-grid box parts clipped at the matrix range (the
    reference's `_tiles_from_cleaned_bounds` direct path)."""
    boxes = _event_boxes_custom(spark, sf_dir)
    out = cover.tiles_from_bounds(
        boxes, IRREGULAR_TP, 2, left="bl", bottom="bb", right="br", top="bt",
        out_row="tile_row", out_col="tile_col",
    )
    return out.select("event_id", "tile_row", "tile_col")


def sql_cover_bbox_custom() -> str:
    return _cover_sql(_event_boxes_custom_sql(), 2, IRREGULAR_TP)


def _event_boxes_large(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continent-scale boxes (20-50° x 10-26°, some antimeridian) whose z6
    covers exceed the explode cap — the auto-split exercise."""
    pts = _events(spark, sf_dir).filter(F.col("event_id") % 100 == 0)
    w = F.lit(20.0) + (F.col("event_id") % 7).cast("double") * F.lit(5.0)
    h = F.lit(10.0) + (F.col("event_id") % 5).cast("double") * F.lit(4.0)
    left = F.when(F.col("event_id") % 300 == 0, F.lit(170.0)).otherwise(F.col("lon"))
    return pts.select(
        "event_id",
        left.alias("bl"),
        F.greatest(F.col("lat") - h, F.lit(-90.0)).alias("bb"),
        (left + w).alias("br"),
        F.least(F.col("lat") + h, F.lit(90.0)).alias("bt"),
    )


_LARGE_BOXES_SQL = f"""
  SELECT event_id,
    CASE WHEN event_id % 300 = 0 THEN {_d(170.0)} ELSE lon END AS bl,
    greatest(lat - ({_d(10.0)} + CAST(event_id % 5 AS DOUBLE) * {_d(4.0)}), {_d(-90.0)}) AS bb,
    (CASE WHEN event_id % 300 = 0 THEN {_d(170.0)} ELSE lon END)
      + ({_d(20.0)} + CAST(event_id % 7 AS DOUBLE) * {_d(5.0)}) AS br,
    least(lat + ({_d(10.0)} + CAST(event_id % 5 AS DOUBLE) * {_d(4.0)}), {_d(90.0)}) AS bt
  FROM ({_EVENTS_SQL}) WHERE event_id % 100 = 0
"""


def q_cover_bbox_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explode-cap AUTO-SPLIT (SURVEY §4): continent-sized z6 covers above
    max_cover_tiles=48 are row-band pre-split before the tile explode —
    results must equal the uncapped cover exactly, which is what the oracle
    computes (it knows nothing of the cap)."""
    boxes = _event_boxes_large(spark, sf_dir)
    out = cover.tiles_from_bounds(
        boxes, GEODETIC, 6, left="bl", bottom="bb", right="br", top="bt",
        out_row="tile_row", out_col="tile_col",
        max_cover_tiles=48, oversize="split",
    )
    return out.select("event_id", "tile_row", "tile_col")


def sql_cover_bbox_split() -> str:
    return _cover_sql(_LARGE_BOXES_SQL, 6, GEODETIC)


def q_neighbors_mt4_buffered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O16 neighbors × metatiling × pixelbuffer combined (reference
    test_tile_shapes.py:112-177 relationally): 8-connected neighbors of the
    mt=4 z3 tiles hit by events, each neighbor with its pixelbuffer=8
    BOUNDS (global top/bottom clamp) and SHAPE (first/last-row one-sided
    buffer rule — on the 2-row mt4 matrix every tile is an edge row)."""
    pts = _events(spark, sf_dir)
    tiled = assign.with_tile(pts, GEO_MT4, 3, "lon", "lat", out_tile_id=None)
    tiles = tiled.select(F.lit(3).alias("zoom"), "row", "col").distinct()
    nb = hierarchy.neighbors(tiles, GEO_MT4, "zoom", "row", "col")
    b = exprs.tile_bounds(GEO_MT4, 3, "neighbor_row", "neighbor_col", 8)
    s = exprs.tile_shape(GEO_MT4, 3, "neighbor_row", "neighbor_col", 8)
    return nb.select(
        F.col("row").alias("tile_row"), F.col("col").alias("tile_col"),
        "neighbor_row", "neighbor_col",
        b["left"].alias("n_left"), b["bottom"].alias("n_bottom"),
        b["right"].alias("n_right"), b["top"].alias("n_top"),
        s["height"].cast("long").alias("n_height"),
        s["width"].cast("long").alias("n_width"),
    )


def sql_neighbors_mt4_buffered() -> str:
    zoom = 3
    tp = GEO_MT4
    mh, mw = tp.matrix_height(zoom), tp.matrix_width(zoom)
    hx = _d(tp.tile_x_size(zoom))
    hy = _d(tp.tile_y_size(zoom))
    px = _d(tp.pixel_x_size(zoom))
    py = _d(tp.pixel_y_size(zoom))
    pb = 8
    off = f"({px} * {_d(float(pb))})"
    return f"""
      WITH pts AS ({_EVENTS_SQL}),
      tiled AS ({_tiles_sql(zoom, tp=tp)}),
      tiles AS (SELECT DISTINCT tile_row, tile_col FROM tiled WHERE {_valid_sql(zoom, tp)}),
      offs AS (SELECT * FROM (VALUES (-1,0),(0,1),(1,0),(0,-1),(-1,1),(1,1),(1,-1),(-1,-1)) AS t(dr, dc)),
      nb AS (
        SELECT DISTINCT tile_row, tile_col,
               tile_row + dr AS neighbor_row,
               ((tile_col + dc) % {mw} + {mw}) % {mw} AS neighbor_col
        FROM tiles CROSS JOIN offs
        WHERE tile_row + dr >= 0 AND tile_row + dr < {mh}
          AND NOT (tile_row + dr = tile_row AND ((tile_col + dc) % {mw} + {mw}) % {mw} = tile_col)
      ),
      base AS (
        SELECT *,
          {_d(TOP)} - neighbor_row * {hy} AS top_b,
          greatest(({_d(TOP)} - neighbor_row * {hy}) - {hy}, {_d(BOTTOM)}) AS bottom_b,
          {_d(LEFT)} + neighbor_col * {hx} AS left_b,
          least(({_d(LEFT)} + neighbor_col * {hx}) + {hx}, {_d(RIGHT)}) AS right_b
        FROM nb
      )
      SELECT tile_row, tile_col, neighbor_row, neighbor_col,
        left_b - {off} AS n_left,
        greatest(bottom_b - {off}, {_d(BOTTOM)}) AS n_bottom,
        right_b + {off} AS n_right,
        least(top_b + {off}, {_d(TOP)}) AS n_top,
        CAST(round((top_b - bottom_b) / {py}, 0) AS BIGINT)
          + CASE WHEN {mh} = 1 THEN 0
                 WHEN neighbor_row IN (0, {mh - 1}) THEN {pb}
                 ELSE {2 * pb} END AS n_height,
        CAST(round((right_b - left_b) / {px}, 0) AS BIGINT) + {2 * pb} AS n_width
      FROM base
    """


def q_stream_tile_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming batch-parity gate: the events parquet replayed
    as a stream (availableNow) through the SAME tile-assignment expressions
    (streaming.stream_tile_counts: watermark + 1-day tumbling window +
    per-tile counts at z4), collected via a memory sink — the oracle is the
    equivalent batch aggregation, so the streaming path is value-gated."""
    import shutil
    import tempfile

    from tilematrix_spark import streaming as streamlib

    batch_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # events.parquet is a single file; FileStreamSource needs a directory
    # base path, so stream the parent dir with a glob filter
    src = (
        spark.readStream.schema(batch_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    # NTZ parquet timestamps -> raw epoch micros -> TIMESTAMP, tz-free: the
    # watermark/window then align on the same integer micros the oracle uses
    us = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"
    )
    src = _with_lonlat(src).withColumn("ts_utc", F.timestamp_micros(us))
    agg = streamlib.stream_tile_counts(
        src, GEODETIC, 4, ts_col="ts_utc", window_duration="1 day", watermark="1 hour"
    )
    # fixed sink name: repeated invocations REPLACE the memory table instead
    # of accumulating one pinned result set per run
    name = "stream_tile_counts_gate"
    ckpt = tempfile.mkdtemp(prefix="tmx_stream_ckpt_")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # the availableNow run is finished: its checkpoint state is one-shot
    shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name).select(
        F.unix_micros(F.col("window.start")).alias("win_start_us"),
        F.col("row").alias("tile_row"),
        F.col("col").alias("tile_col"),
        "n",
    )


def sql_stream_tile_counts() -> str:
    """Batch mirror: 1-day tumbling windows are epoch-aligned floor division
    of the raw event-time microseconds (Spark TimeWindow semantics)."""
    day_us = 86_400_000_000
    return f"""
      WITH pts AS (
        SELECT event_id, ts,
               {_d(-180.0)} + fmod(event_id * {_d(PHI1)}, {_d(1.0)}) * {_d(360.0)} AS lon,
               {_d(-90.0)} + fmod(event_id * {_d(PHI2)}, {_d(1.0)}) * {_d(180.0)} AS lat
        FROM events
      ),
      tiled AS ({_tiles_sql(4)})
      SELECT (epoch_us(ts) // {day_us}) * {day_us} AS win_start_us,
             tile_row, tile_col, count(*) AS n
      FROM tiled WHERE {_valid_sql(4)}
      GROUP BY 1, 2, 3
    """

# ---------------------------------------------------------------------------
# tagged unions: several queries in one driver gate slot
# ---------------------------------------------------------------------------

# output type -> (DuckDB type, sentinel for a column the member lacks)
_UNION_TYPES = {
    "int": ("INTEGER", -1),
    "long": ("BIGINT", -1),
    "double": ("DOUBLE", -1.0),
    "string": ("VARCHAR", ""),
}


class TaggedUnion(NamedTuple):
    """Member queries' rows flattened into one shape under a tag column.
    ``schema`` is the ordered ``(column, type)`` list after ``tag_col``;
    each member is ``(tag, q_fn, sql_fn, sources)`` with one source column
    per output column, or None for the type's sentinel.  ``q`` and ``sql``
    emit the Spark and DuckDB sides of the same declaration, so a
    regression in any member flips rows under its tag."""

    tag_col: str
    schema: list[tuple[str, str]]
    members: list[tuple[str, Callable[[SparkSession, str], DataFrame], Callable[[], str], list[str | None]]]

    def q(self, spark: SparkSession, sf_dir: str) -> DataFrame:
        parts = [
            q_fn(spark, sf_dir).select(
                F.lit(tag).alias(self.tag_col),
                *(
                    (F.lit(_UNION_TYPES[t][1]) if src is None else F.col(src)).cast(t).alias(out)
                    for (out, t), src in zip(self.schema, srcs)
                ),
            )
            for tag, q_fn, _, srcs in self.members
        ]
        return functools.reduce(DataFrame.unionByName, parts)

    def sql(self) -> str:
        def cast(src, out, t):
            sql_t, fill = _UNION_TYPES[t]
            return f"CAST({repr(fill) if src is None else src} AS {sql_t}) AS {out}"

        return "\nUNION ALL\n".join(
            f"SELECT '{tag}' AS {self.tag_col}, "
            + ", ".join(cast(src, out, t) for (out, t), src in zip(self.schema, srcs))
            + f"\nFROM ({sql_fn()})"
            for tag, _, sql_fn, srcs in self.members
        )


def tagged_union(tag_col: str, schema: list[tuple[str, str]], members: list) -> TaggedUnion:
    """Declare a tagged union; a member with the wrong number of sources or
    a column type outside _UNION_TYPES fails at import, not mid-query."""
    for tag, _, _, srcs in members:
        if len(srcs) != len(schema):
            raise ValueError(f"{tag}: {len(srcs)} sources for {len(schema)} columns")
    unknown = {t for _, t in schema} - set(_UNION_TYPES)
    if unknown:
        raise ValueError(f"unsupported union column types {sorted(unknown)}")
    return TaggedUnion(tag_col, schema, members)


_TILE = [("tile_row", "long"), ("tile_col", "long")]
_COVER = [("event_id", "long"), *_TILE]
_COVER_SRC = ["event_id", "tile_row", "tile_col"]

# O18/O23 tile_from_xy constants for BOTH non-geodetic grid families:
# mercator (square zoom-0, antimeridian wrap in map units) and the
# reference's irregular EPSG:31259 custom grid (non-square zoom-0, no wrap,
# clip-at-bounds).  A regression in either grid's constants flips rows
# under its tag — in-window, not just in the local checker tail.
POINT_TILE_GRIDS = tagged_union("grid", [*_TILE, ("n", "long")], [
    ("mercator", q_point_tile_mercator, sql_point_tile_mercator, ["tile_row", "tile_col", "n"]),
    ("custom", q_point_tile_custom_grid, sql_point_tile_custom_grid, ["tile_row", "tile_col", "n"]),
])

# O25-O27 bbox-cover constants for the three non-default pyramids:
# metatiled geodetic (mt=4 corner math), mercator (map-unit antimeridian),
# and the non-global custom grid (clip-at-matrix-range, no wrap).
COVER_BBOX_GRIDS = tagged_union("grid", _COVER, [
    ("geodetic_mt4", q_cover_bbox_mt4, sql_cover_bbox_mt4, _COVER_SRC),
    ("mercator", q_cover_bbox_mercator, sql_cover_bbox_mercator, _COVER_SRC),
    ("custom", q_cover_bbox_custom, sql_cover_bbox_custom, _COVER_SRC),
])

# O25-O27 geodetic bbox cover, plain z4 (antimeridian split included) AND
# the max_cover_tiles=48 row-band AUTO-SPLIT at z6.  The split path must
# equal the uncapped cover exactly — the oracle computes the uncapped cover
# for both tags.
COVER_BBOX_MODES = tagged_union("mode", _COVER, [
    ("z4", q_cover_bbox, sql_cover_bbox, _COVER_SRC),
    ("z6_split", q_cover_bbox_split, sql_cover_bbox_split, _COVER_SRC),
])

# O29 tiles_from_geom, intersects AND exact=True semantics: box polygons
# through the full filter-refine path (= pure bbox cover), plus the
# exact-mode area>0 filter with its zero-area LineString degenerate case
# (lines dropped entirely).
GEOM_TILES_MODES = tagged_union("mode", _COVER, [
    ("boxes", q_geom_tiles_boxes, sql_geom_tiles_boxes, _COVER_SRC),
    ("exact", q_geom_tiles_exact, sql_geom_tiles_exact, _COVER_SRC),
])

# O30 kNN, BOTH search-radius regimes: the dense z4 path (a disc of a few
# tiles) and the sparse z6 path (a disc spanning many tiles).
KNN_MODES = tagged_union("mode", [("qid", "long"), ("pid", "long"), ("rank", "int")], [
    ("dense", q_knn, sql_knn, ["qid", "pid", "rank"]),
    ("sparse", q_knn_sparse, sql_knn_sparse, ["qid", "pid", "rank"]),
])

# Mosaic compose + pyramid overview coverage: the `compose` tag gates which
# z6 tiles get a canvas and from how many contributors (cover/window math
# through the full compose kernel), the `overview` tag gates the z5 parent
# addressing and child counts of the SAME composed set (get_parent
# semantics through the downsample kernel).  Canvas/overview pixel BYTES
# stay pinned by the numpy-mirror pytests (binary decode/downsample is not
# SQL-expressible).
MOSAIC_MODES = tagged_union("mode", [*_TILE, ("n", "long")], [
    ("compose", q_compose_tiles, sql_compose_tiles, ["tile_row", "tile_col", "n_images"]),
    ("overview", q_overview_coverage, sql_overview_coverage, ["tile_row", "tile_col", "n_children"]),
])

# Six raster-analytics surfaces: zonal statistics, two-pass percentile
# contrast stretch, two-epoch change detection, 2x bilinear overzoom, the
# pyramid consistency audit, and Horn hillshade.  Each tag exercises a
# different kernel stack (zone-window broadcast reduce / global histogram +
# LUT remap / epoch join + delta reduce / halo-exchange separable upsample /
# overview-vs-parent diff composition / halo Sobel + integer-exact
# illumination).  r/c carry tile or zone keys, p1/p2 the sampled pixel,
# n1..n5 the tag's integer payload.  (Derived float columns — zonal's
# mean_val = n3/n2, hillshade's hs = n1/sqrt(n2) — are pinned bit-exact by
# the standalone tail queries.)
RASTER_ANALYTICS_MODES = tagged_union(
    "mode",
    [("r", "long"), ("c", "long"), ("p1", "int"), ("p2", "int"),
     ("n1", "long"), ("n2", "long"), ("n3", "long"), ("n4", "long"), ("n5", "long")],
    [
        ("zonal", q_zonal_stats, sql_zonal_stats,
         ["zone_id", None, None, None, "n_tiles", "n_px", "sum_val", "min_val", "max_val"]),
        ("stretch", q_contrast_stretch, sql_contrast_stretch,
         ["tile_row", "tile_col", "py", "px", "v_in", "v_out", None, None, None]),
        ("diff", q_raster_diff, sql_raster_diff,
         ["tile_row", "tile_col", None, None, "n_px", "n_diff", "sum_abs", "max_abs", None]),
        ("overzoom", q_upsample_children, sql_upsample_children,
         ["tile_row", "tile_col", "py", "px", "num", "val", None, None, None]),
        ("audit", q_pyramid_audit, sql_pyramid_audit,
         ["tile_row", "tile_col", None, None, "n_px", "n_diff", "sum_abs", "max_abs", "ok"]),
        ("hillshade", q_hillshade, sql_hillshade,
         ["tile_row", "tile_col", "py", "px", "dot", "den2", None, None, None]),
    ],
)

# Both halo-exchange focal-statistics paths over the zonal region: the full
# 5x5 stencil and the incremental 3x3 recompute of an update batch's
# dirty ring (mixed-corpus values, ring-restricted keys).  One output shape,
# so one gate slot.
_FOCAL_COLS = ["tile_row", "tile_col", "py", "px", "n_nbr", "sum_nbr", "min_nbr", "max_nbr", "mean_nbr"]
FOCAL_MODES = tagged_union(
    "mode",
    [*_TILE, ("py", "int"), ("px", "int"), ("n_nbr", "long"), ("sum_nbr", "long"),
     ("min_nbr", "int"), ("max_nbr", "int"), ("mean_nbr", "long")],
    [
        ("stats", q_focal_stats, sql_focal_stats, _FOCAL_COLS),
        ("incremental", q_incremental_focal, sql_incremental_focal, _FOCAL_COLS),
    ],
)

# Both incremental-pyramid planner surfaces: the dirty-tile work estimate
# (new vs total contributors per dirtied z6 tile) and one real propagate
# step (dirty z5 parents with merged-coverage child counts).
INCREMENTAL_MODES = tagged_union("mode", [*_TILE, ("n1", "long"), ("n2", "long")], [
    ("dirty", q_incremental_dirty, sql_incremental_dirty, ["tile_row", "tile_col", "n_new", "n_total"]),
    ("propagate", q_incremental_propagate, sql_incremental_propagate, ["tile_row", "tile_col", "n_children", None]),
])

# The three full-probe/exact-rerank ANN pipelines: portable sign-LSH
# bucketing + cosine re-rank, IVF at full probe (≡ brute force, quantizer
# cancels), and exhaustive PQ-ADC — each a DIFFERENT kernel stack
# (hyperplane hashing / coarse cells / product codes).  Retrieval evaluation
# rides the same shape: vec_id = the true match, rank = its exact
# integer-cosine rank over the whole corpus (hit@k flags are derivable from
# rank; the standalone tail query keeps them).  The pruned-regime IVFADC
# holds its own in-window slot (ivf_pq_residual_topk).
ANN_MODES = tagged_union("mode", [("qid", "long"), ("vec_id", "long"), ("rank", "int")], [
    ("lsh", q_ann_lsh_topk, sql_ann_lsh_topk, ["qid", "vec_id", "rank"]),
    ("ivf", q_ann_ivf_topk, sql_ann_ivf_topk, ["qid", "vec_id", "rank"]),
    ("pq", q_pq_topk, sql_pq_topk, ["qid", "vec_id", "rank"]),
    ("retrieval", q_retrieval_recall, sql_retrieval_recall, ["qid", "true_id", "true_rank"]),
])

# Two event-window surfaces: event-time sessionization (gap > 30 min
# splits; µs precision) and per-tile exact percentiles (p50/p90, linear
# interpolation).  k1/k2 carry the tag's keys (user/session vs tile
# row/col), n1..n4 its counters/timestamps, v1/v2 the quantile doubles.
WINDOWS_MODES = tagged_union(
    "mode",
    [("k1", "long"), ("k2", "long"), ("n1", "long"), ("n2", "long"), ("n3", "long"),
     ("n4", "long"), ("v1", "double"), ("v2", "double")],
    [
        ("sessions", q_user_sessions, sql_user_sessions,
         ["user_id", "session_idx", "n_events", "start_us", "end_us", "duration_us", None, None]),
        ("quantiles", q_tile_quantiles, sql_tile_quantiles,
         ["tile_row", "tile_col", "n", None, None, None, "p50", "p90"]),
    ],
)

# Three text-analysis surfaces: token counting (whitespace + BPE-ish
# subwords + chars), df-normalized top-3 terms per doc, and language-ID
# counts — each a different kernel stack (regex token extraction / tf-df
# window ranking / marker-hit argmax).  ``s`` carries the tag's string
# payload (term / language), n1..n3 its counters.
TEXT_STATS_MODES = tagged_union(
    "mode",
    [("doc_id", "long"), ("s", "string"), ("n1", "long"), ("n2", "long"), ("n3", "long")],
    [
        ("tokens", q_token_stats, sql_token_stats,
         ["doc_id", None, "n_tokens", "n_subwords", "n_chars"]),
        ("top_terms", q_top_terms, sql_top_terms, ["doc_id", "term", "rank", None, None]),
        ("lang_id", q_lang_id_counts, sql_lang_id_counts, [None, "lang_pred", "n", None, None]),
    ],
)

# Four text near-dup pair generators: MinHash-LSH band candidates, exact
# word-trigram Jaccard (τ=0.5), SimHash Hamming-≤1 bit-flip probes, and
# winnowing shared-fingerprint pairs — each a DIFFERENT blocking kernel
# stack (banded min-hash sub-signatures / shingle equi-join / sketch
# bit-flip probes / MOSS window minima).  ``score`` carries the tag's
# native pair evidence (jaccard, shared-fp count); the membership-only
# tags emit the sentinel.
NEARDUP_PAIR_MODES = tagged_union("mode", [("id_a", "long"), ("id_b", "long"), ("score", "double")], [
    ("minhash_lsh", q_minhash_lsh_pairs, sql_minhash_lsh_pairs, ["id_a", "id_b", None]),
    ("ngram_jaccard", q_ngram_jaccard, sql_ngram_jaccard, ["id_a", "id_b", "jaccard"]),
    ("simhash", q_simhash_near_pairs, sql_simhash_near_pairs, ["id_a", "id_b", None]),
    ("winnow", q_winnow_near_pairs, sql_winnow_near_pairs, ["id_a", "id_b", "n_shared"]),
])



# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: point->tile assignment + salted per-tile counts at z5,
    rolled up one zoom, on sf0.001 events."""
    counts = q_point_tile_counts(spark, "/root/testdata/sf0.001")
    rolled = (
        counts.select(
            (F.col("tile_row") / 2).cast("long").alias("p_row"),
            (F.col("tile_col") / 2).cast("long").alias("p_col"),
            "n",
        )
        .groupBy("p_row", "p_col")
        .agg(F.sum("n").alias("n"))
    )
    return rolled


# Every driver query, declared once: (name, Spark builder, oracle SQL).
# The order is the driver's: its CORRECTNESS check reads the first 50
# entries, so every kernel-bearing query and every distinct kernel constant
# sits in positions 1-50.  tools/check_oracle.py runs all of them.
QUERIES: list[tuple[str, Callable[[SparkSession, str], DataFrame], Callable[[], str]]] = [
    # --- tile math & assignment ---
    ("point_tile_counts", q_point_tile_counts, sql_point_tile_counts),
    ("point_tile_edges", q_point_tile_edges, sql_point_tile_edges),
    ("per_row_zoom_assign", q_per_row_zoom_assign, sql_per_row_zoom_assign),
    ("tile_bounds", q_tile_bounds, sql_tile_bounds),
    ("tile_affine", q_tile_affine, sql_tile_affine),
    ("tile_shape_pixelbuffer", q_tile_shape_pixelbuffer, sql_tile_shape_pixelbuffer),
    ("tile_shape_metatile", q_tile_shape_metatile, sql_tile_shape_metatile),
    ("matrix_dims", q_matrix_dims, sql_matrix_dims),
    ("point_tile_grids", POINT_TILE_GRIDS.q, POINT_TILE_GRIDS.sql),
    # --- hierarchy ---
    ("parent_rollup", q_parent_rollup, sql_parent_rollup),
    ("neighbors", q_neighbors, sql_neighbors),
    # --- covers ---
    ("cover_bbox_modes", COVER_BBOX_MODES.q, COVER_BBOX_MODES.sql),
    ("cover_bbox_grids", COVER_BBOX_GRIDS.q, COVER_BBOX_GRIDS.sql),
    ("cover_multizoom", q_cover_multizoom, sql_cover_multizoom),
    ("snap_bounds", q_snap_bounds, sql_snap_bounds),
    ("intersecting", q_intersecting, sql_intersecting),
    # --- spatial joins ---
    ("knn_modes", KNN_MODES.q, KNN_MODES.sql),
    ("geom_tiles_modes", GEOM_TILES_MODES.q, GEOM_TILES_MODES.sql),
    ("pip_join_regions", q_pip_join_regions, sql_pip_join_regions),
    # --- pipeline compositions ---
    ("crossmodal_dups", q_crossmodal_dups, sql_crossmodal_dups),
    ("decontaminate", q_decontaminate, sql_decontaminate),
    ("pack_sequences", q_pack_sequences, sql_pack_sequences),
    # --- raster / image kernels ---
    ("raster_windows", q_raster_windows, sql_raster_windows),
    ("rasterize_bins", q_rasterize_bins, sql_rasterize_bins),
    ("mosaic_modes", MOSAIC_MODES.q, MOSAIC_MODES.sql),
    ("raster_analytics_modes", RASTER_ANALYTICS_MODES.q, RASTER_ANALYTICS_MODES.sql),
    ("focal_gradient", q_focal_gradient, sql_focal_gradient),
    ("incremental_modes", INCREMENTAL_MODES.q, INCREMENTAL_MODES.sql),
    ("focal_modes", FOCAL_MODES.q, FOCAL_MODES.sql),
    ("verify_images", q_verify_images, sql_verify_images),
    ("phash_near_dup", q_phash_near_dup, sql_phash_near_dup),
    ("spatial_phash_pairs", q_spatial_phash_pairs, sql_spatial_phash_pairs),
    # --- similarity / ANN ---
    ("ann_modes", ANN_MODES.q, ANN_MODES.sql),
    ("ivf_pq_residual_topk", q_ivf_pq_residual_topk, sql_ivf_pq_residual_topk),
    ("cosine_topk", q_cosine_topk, sql_cosine_topk),
    # --- windows / streaming ---
    ("stream_tile_counts", q_stream_tile_counts, sql_stream_tile_counts),
    ("windows_modes", WINDOWS_MODES.q, WINDOWS_MODES.sql),
    # --- dedup / text pipeline ---
    ("dedup_exact", q_dedup_exact, sql_dedup_exact),
    ("bloom_dedup", q_bloom_dedup, sql_bloom_dedup),
    ("text_stats_modes", TEXT_STATS_MODES.q, TEXT_STATS_MODES.sql),
    ("neardup_pair_modes", NEARDUP_PAIR_MODES.q, NEARDUP_PAIR_MODES.sql),
    ("winnow_fingerprints", q_winnow_fingerprints, sql_winnow_fingerprints),
    ("repetition_stats", q_repetition_stats, sql_repetition_stats),
    ("scrub_pii", q_scrub_pii, sql_scrub_pii),
    ("semantic_dedup", q_semantic_dedup, sql_semantic_dedup),
    ("c4_page_filter", q_c4_page_filter, sql_c4_page_filter),
    ("dedup_clusters", q_dedup_clusters, sql_dedup_clusters),
    ("source_quota", q_source_quota, sql_source_quota),
    # --- cross-tile connected components ---
    ("label_components", q_label_components, sql_label_components),
    # --- Z-order sink write/read roundtrip ---
    ("zorder_scan", q_zorder_scan, sql_zorder_scan),
    # ---- tail (positions 51+): redundant-kernel variants; each shares
    # its kernel with an in-window query or is one tag of an in-window
    # tagged union ----
    ("knn", q_knn, sql_knn),
    ("knn_sparse", q_knn_sparse, sql_knn_sparse),
    ("cover_bbox", q_cover_bbox, sql_cover_bbox),
    ("cover_bbox_split", q_cover_bbox_split, sql_cover_bbox_split),
    ("geom_tiles_boxes", q_geom_tiles_boxes, sql_geom_tiles_boxes),
    ("geom_tiles_exact", q_geom_tiles_exact, sql_geom_tiles_exact),
    ("spatial_split", q_spatial_split, sql_spatial_split),
    ("tile_user_counts", q_tile_user_counts, sql_tile_user_counts),
    ("raster_windows_buffered", q_raster_windows_buffered, sql_raster_windows_buffered),
    ("embedding_dups", q_embedding_dups, sql_embedding_dups),
    ("ann_lsh_topk", q_ann_lsh_topk, sql_ann_lsh_topk),
    ("ann_ivf_topk", q_ann_ivf_topk, sql_ann_ivf_topk),
    ("pq_topk", q_pq_topk, sql_pq_topk),
    ("pq_codes", q_pq_codes, sql_pq_codes),
    ("neighbors_mt4_buffered", q_neighbors_mt4_buffered, sql_neighbors_mt4_buffered),
    ("events_topk_window", q_events_topk_window, sql_events_topk_window),
    ("children", q_children, sql_children),
    ("lang_stratified", q_lang_stratified, sql_lang_stratified),
    ("minhash_lsh_verified", q_minhash_lsh_verified, sql_minhash_lsh_verified),
    ("pyramid_counts", q_pyramid_counts, sql_pyramid_counts),
    ("tile_ids_packed", q_tile_ids_packed, sql_tile_ids_packed),
    ("tile_morton", q_tile_morton, sql_tile_morton),
    ("intersecting_down", q_intersecting_down, sql_intersecting_down),
    ("fingerprints", q_fingerprints, sql_fingerprints),
    ("quality_scores", q_quality_scores, sql_quality_scores),
    ("minhash_signatures", q_minhash_signatures, sql_minhash_signatures),
    ("simhash", q_simhash, sql_simhash),
    ("sample_hash", q_sample_hash, sql_sample_hash),
    ("minhash_lsh_pairs", q_minhash_lsh_pairs, sql_minhash_lsh_pairs),
    ("ngram_jaccard", q_ngram_jaccard, sql_ngram_jaccard),
    ("simhash_near_pairs", q_simhash_near_pairs, sql_simhash_near_pairs),
    ("winnow_near_pairs", q_winnow_near_pairs, sql_winnow_near_pairs),
    ("strip_boilerplate", q_strip_boilerplate, sql_strip_boilerplate),
    ("dedup_lines", q_dedup_lines, sql_dedup_lines),
    ("exact_substr", q_exact_substr, sql_exact_substr),
    ("importance_scores", q_importance_scores, sql_importance_scores),
    ("token_stats", q_token_stats, sql_token_stats),
    ("top_terms", q_top_terms, sql_top_terms),
    ("lang_id_counts", q_lang_id_counts, sql_lang_id_counts),
    ("user_sessions", q_user_sessions, sql_user_sessions),
    ("tile_quantiles", q_tile_quantiles, sql_tile_quantiles),
    ("incremental_dirty", q_incremental_dirty, sql_incremental_dirty),
    ("incremental_propagate", q_incremental_propagate, sql_incremental_propagate),
    ("compose_tiles", q_compose_tiles, sql_compose_tiles),
    ("overview_coverage", q_overview_coverage, sql_overview_coverage),
    ("zonal_stats", q_zonal_stats, sql_zonal_stats),
    ("focal_stats", q_focal_stats, sql_focal_stats),
    ("incremental_focal", q_incremental_focal, sql_incremental_focal),
    ("zonal_classes", q_zonal_classes, sql_zonal_classes),
    ("zonal_poly", q_zonal_poly, sql_zonal_poly),
    ("zonal_majority", q_zonal_majority, sql_zonal_majority),
    ("retrieval_recall", q_retrieval_recall, sql_retrieval_recall),
    ("upsample_children", q_upsample_children, sql_upsample_children),
    ("raster_histogram", q_raster_histogram, sql_raster_histogram),
    ("contrast_stretch", q_contrast_stretch, sql_contrast_stretch),
    ("raster_diff", q_raster_diff, sql_raster_diff),
    ("pyramid_audit", q_pyramid_audit, sql_pyramid_audit),
    ("hillshade", q_hillshade, sql_hillshade),
    ("ann_ivf_recall", q_ann_ivf_recall, sql_ann_ivf_recall),
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Driver queries in registry order, name -> (spark, sf_dir) -> DataFrame."""
    return {name: q for name, q, _ in QUERIES}


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL per driver query, name -> SQL text."""
    return {name: sql() for name, _, sql in QUERIES}
