"""Independent output checks: numpy re-computations and the repository's
DuckDB oracle SQL.  None of them calls the code path it checks."""

from __future__ import annotations

import json
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq


def ray_cast(ring: np.ndarray, xs: np.ndarray, ys: np.ndarray) -> np.ndarray:
    """Even-odd ray cast of points against one closed ring (+x ray)."""
    inside = np.zeros(len(xs), dtype=bool)
    for i in range(len(ring) - 1):
        x0, y0 = ring[i]
        x1, y1 = ring[i + 1]
        cond = (y0 > ys) != (y1 > ys)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = x0 + (ys - y0) * (x1 - x0) / (y1 - y0)
        inside ^= cond & (xs < xint)
    return inside


def read_polygons(path: Path):
    t = pq.read_table(path).to_pydict()
    return [
        (pid, np.asarray(json.loads(g)["coordinates"][0], dtype=np.float64))
        for pid, g in zip(t["poly_id"], t["geometry"])
    ]


def tile_of(tp, zoom: int, lon: np.ndarray, lat: np.ndarray):
    """(row, col) by truncating division from the grid's top-left corner."""
    row = np.trunc((tp.top - lat) / tp.tile_y_size(zoom)).astype(np.int64)
    col = np.trunc((lon - tp.left) / tp.tile_x_size(zoom)).astype(np.int64)
    return row, col % tp.matrix_width(zoom)


def knn_brute(qx, qy, px, py, pid, k: int, span: float):
    """Top-k (point id, distance) per query: planar distance with x-wrap,
    ties on (distance, id)."""
    out = []
    for x, y in zip(qx, qy):
        dx = np.abs(x - px)
        dx = np.minimum(dx, span - dx)
        dy = y - py
        d = np.sqrt(dx * dx + dy * dy)
        order = np.lexsort((pid, d))[:k]
        out.append((pid[order], d[order]))
    return out


def read_level(path: Path) -> dict:
    """{(row, col): (tile_w, tile_h, bytes)} of a committed pyramid level."""
    t = pq.read_table(path, columns=["row", "col", "tile_w", "tile_h", "bytes"]).to_pydict()
    return {
        (r, c): (w, h, b)
        for r, c, w, h, b in zip(t["row"], t["col"], t["tile_w"], t["tile_h"], t["bytes"])
    }


def box_parent(children: dict, prow: int, pcol: int) -> bytes:
    """Parent canvas from its <= 4 children: each 2x2 box-filtered (integer
    mean) into its quadrant, missing quadrants black."""
    w, h = next(iter(children.values()))[:2]
    canvas = np.zeros((h, w, 3), dtype=np.uint8)
    for qr in (0, 1):
        for qc in (0, 1):
            kid = children.get((2 * prow + qr, 2 * pcol + qc))
            if kid is None:
                continue
            px = np.frombuffer(kid[2], dtype=np.uint8).reshape(h, w, 3).astype(np.uint16)
            half = (px[0::2, 0::2] + px[1::2, 0::2] + px[0::2, 1::2] + px[1::2, 1::2]) // 4
            canvas[qr * h // 2:(qr + 1) * h // 2, qc * w // 2:(qc + 1) * w // 2] = half
    return canvas.tobytes()


def footprint_tiles(tp, zoom: int, fps: np.ndarray, eps: float):
    """Tiles whose pixel grid a footprint (left, bottom, right, top) covers
    with a positive-area window, x-wrapped on the global grid.  ``eps`` > 0
    gives the tiles that certainly qualify, ``eps`` < 0 those that may
    (a footprint edge within float rounding of a tile edge)."""
    tw, th = tp.tile_x_size(zoom), tp.tile_y_size(zoom)
    mw, mh = tp.matrix_width(zoom), tp.matrix_height(zoom)
    span = tp.right - tp.left
    out = set()
    for left, bottom, right, top in fps:
        r0 = max(int(np.floor((tp.top - top) / th + eps)), 0)
        r1 = min(int(np.ceil((tp.top - bottom) / th - eps)) - 1, mh - 1)
        for shift in (0.0, -span, span):
            c0 = max(int(np.floor((left + shift - tp.left) / tw + eps)), 0)
            c1 = min(int(np.ceil((right + shift - tp.left) / tw - eps)) - 1, mw - 1)
            for r in range(r0, r1 + 1):
                for c in range(c0, c1 + 1):
                    out.add((r, c))
    return out


def parents(tiles: set, levels: int) -> set:
    for _ in range(levels):
        tiles = {(r >> 1, c >> 1) for r, c in tiles}
    return tiles


def duckdb_rows(views: dict, sql: str) -> list:
    """Run ``sql`` over parquet directories registered as views."""
    import duckdb

    con = duckdb.connect()
    try:
        for name, path in views.items():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}/*.parquet')")
        return con.execute(sql).fetchall()
    finally:
        con.close()


def normalize(rows) -> list:
    """Sorted tuples with floats rounded to the oracle's 6 places."""
    return sorted(
        tuple(round(v, 6) if isinstance(v, float) else v for v in r) for r in rows
    )
