"""``tmx``-parity CLI — reference ``tilematrix/tmx/main.py:10-199`` (O32).

Subcommands: bounds, bbox, tile, tiles, snap-bounds, snap-bbox.
Global options mirror the reference group flags: --pixelbuffer --tile_size
--metatiling --grid --output_format.

Execution is Spark-first (the single query row goes through the same Column
expressions / cover operator the batch engine uses), driven as a
``spark-submit`` entry:
    spark-submit --py-files tilematrix_spark.zip -m tilematrix_spark.cli tiles 5 0 0 30 30
For ad-hoc scalar lookups the active session is reused, or a local[1]
session is created on demand.

Output formats: "Tile" (ids), "WKT" (tile bbox polygons), "GeoJSON"
(FeatureCollection) — shapely-style WKT formatting.
"""

from __future__ import annotations

import argparse
import json
import sys
from typing import List, Tuple

from pyspark.sql import SparkSession

from . import exprs
from .grid import PyramidConfig
from .operators import cover


def _fmt(v: float) -> str:
    """shapely-style coordinate formatting (no trailing .0 stripping)."""
    return repr(float(v))


def _wkt_box(left: float, bottom: float, right: float, top: float) -> str:
    pts = [(left, bottom), (left, top), (right, top), (right, bottom), (left, bottom)]
    return "POLYGON ((" + ", ".join(f"{_fmt(x)} {_fmt(y)}" for x, y in pts) + "))"


def _geojson_box(left, bottom, right, top, props=None) -> dict:
    geom = {
        "type": "Polygon",
        "coordinates": [
            [[left, bottom], [left, top], [right, top], [right, bottom], [left, bottom]]
        ],
    }
    if props is None:
        return geom
    return {"type": "Feature", "geometry": geom, "properties": props}


def _spark() -> SparkSession:
    """The active session when one exists (its SQL conf stays untouched),
    else a local[1] session created for the lookup."""
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    spark = (
        SparkSession.builder.master("local[1]")
        .appName("tmx_spark")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "1")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _tile_bounds(tp: PyramidConfig, z: int, r: int, c: int, pb: int) -> Tuple[float, float, float, float]:
    """Driver-side mirror of exprs.tile_bounds (identical arithmetic)."""
    h, w = tp.tile_y_size(z), tp.tile_x_size(z)
    top = tp.top - r * h
    bottom = max(top - h, tp.bottom)
    left = tp.left + c * w
    right = min(left + w, tp.right)
    if pb:
        off = tp.pixel_x_size(z) * pb
        left, bottom, right, top = left - off, bottom - off, right + off, top + off
    if tp.is_global:
        top = min(top, tp.top)
        bottom = max(bottom, tp.bottom)
    return left, bottom, right, top


def main(argv: List[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="tmx", description="tilematrix_spark CLI")
    p.add_argument("--pixelbuffer", "-p", type=int, default=0)
    p.add_argument("--tile_size", "-s", type=int, default=256)
    p.add_argument("--metatiling", "-m", type=int, default=1)
    p.add_argument("--grid", "-g", choices=["geodetic", "mercator"], default="geodetic")
    p.add_argument("--output_format", "-f", choices=["Tile", "WKT", "GeoJSON"], default="Tile")
    sub = p.add_subparsers(dest="cmd", required=True)

    sp = sub.add_parser("bounds", help="Tile bounds.")
    sp.add_argument("tile", nargs=3, type=int)
    sp = sub.add_parser("bbox", help="Tile bounding box.")
    sp.add_argument("tile", nargs=3, type=int)
    sp = sub.add_parser("tile", help="Tile from point.")
    sp.add_argument("zoom", type=int)
    sp.add_argument("point", nargs=2, type=float)
    sp = sub.add_parser("tiles", help="Tiles from bounds.")
    sp.add_argument("zoom", type=int)
    sp.add_argument("bounds", nargs=4, type=float)
    sp = sub.add_parser("snap-bounds", help="Snap bounds to tile grid.")
    sp.add_argument("zoom", type=int)
    sp.add_argument("bounds", nargs=4, type=float)
    sp = sub.add_parser("snap-bbox", help="Snap bbox to tile grid.")
    sp.add_argument("zoom", type=int)
    sp.add_argument("bounds", nargs=4, type=float)

    args = p.parse_args(argv)
    try:
        tp = PyramidConfig.create(args.grid, tile_size=args.tile_size, metatiling=args.metatiling)
    except ValueError as e:
        print(f"error: {e}", file=sys.stderr)
        return 2
    pb = args.pixelbuffer

    if args.cmd in ("bounds", "bbox"):
        z, r, c = args.tile
        b = _tile_bounds(tp, z, r, c, pb)
        if args.cmd == "bounds":
            print(" ".join(_fmt(v) for v in b))
        elif args.output_format in ("Tile", "WKT"):
            print(_wkt_box(*b))
        else:
            print(json.dumps(_geojson_box(*b)))
        return 0

    spark = _spark()
    if args.cmd == "tile":
        df = spark.createDataFrame([tuple(args.point)], "x double, y double")
        row = df.select(exprs.tile_from_xy(tp, "x", "y", args.zoom).alias("t")).collect()[0]["t"]
        if row is None:
            print("error: point outside grid or invalid tile", file=sys.stderr)
            return 1
        z, r, c = args.zoom, row["row"], row["col"]
        if args.output_format == "Tile":
            print(f"{z} {r} {c}")
        elif args.output_format == "WKT":
            print(_wkt_box(*_tile_bounds(tp, z, r, c, pb)))
        else:
            feat = _geojson_box(*_tile_bounds(tp, z, r, c, pb), props={"zoom": z, "row": r, "col": c})
            print(json.dumps({"type": "FeatureCollection", "features": [feat]}))
        return 0

    if args.cmd == "tiles":
        left, bottom, right, top = args.bounds
        df = spark.createDataFrame(
            [(left, bottom, right, top)], "left double, bottom double, right double, top double"
        )
        out = cover.tiles_from_bounds(df, tp, args.zoom).orderBy("row", "col")
        rows = out.select("row", "col").collect()
        if args.output_format == "Tile":
            for r in rows:
                print(f"{args.zoom} {r['row']} {r['col']}")
        elif args.output_format == "WKT":
            for r in rows:
                print(_wkt_box(*_tile_bounds(tp, args.zoom, r["row"], r["col"], pb)))
        else:
            feats = [
                _geojson_box(
                    *_tile_bounds(tp, args.zoom, r["row"], r["col"], pb),
                    props={"zoom": args.zoom, "row": r["row"], "col": r["col"]},
                )
                for r in rows
            ]
            print(json.dumps({"type": "FeatureCollection", "features": feats}))
        return 0

    if args.cmd in ("snap-bounds", "snap-bbox"):
        left, bottom, right, top = args.bounds
        df = spark.createDataFrame(
            [(left, bottom, right, top)], "l double, b double, r double, t double"
        )
        s = df.select(exprs.snap_bounds(tp, "l", "b", "r", "t", args.zoom, pb).alias("s")).collect()[0]["s"]
        vals = (s["left"], s["bottom"], s["right"], s["top"])
        if args.cmd == "snap-bounds":
            print(" ".join(_fmt(v) for v in vals))
        else:
            print(_wkt_box(*vals))
        return 0
    return 2


if __name__ == "__main__":
    sys.exit(main())
