"""Vectorized numpy geometry kernels for the spatial-join refinement stage.

The reference delegates polygon predicates to GEOS via shapely
(``_tilepyramid.py:256-269``: ``prep(geom).intersects(tile.bbox())`` and
``geometry.intersection(tile.bbox()).area``).  shapely is unavailable here, so
these kernels implement the equivalents for the engine's case — an arbitrary
geometry tested against MANY axis-aligned tile rectangles at once — with
numpy vectorized over the rectangle axis (the big axis).  This mirrors the
reference's prepared-geometry amortization: parse/cache per geometry, test
thousands of candidate tiles per call.

Geometries are GeoJSON-style dicts/strings: Point, MultiPoint, LineString,
MultiLineString, Polygon, MultiPolygon, GeometryCollection.

Predicate semantics match shapely:
* ``intersects`` counts boundary touch.
* ``intersection(...).area`` excludes boundary-touch and lines (so LineStrings
  yield zero tiles under ``exact=True`` — ``_tilepyramid.py:240-254``).
"""

from __future__ import annotations

import json
from typing import Any, Dict, List, Sequence, Tuple

import numpy as np

Rects = Tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]  # left,bottom,right,top


def parse_geometry(geom: Any) -> Dict[str, Any]:
    if isinstance(geom, (str, bytes)):
        geom = json.loads(geom)
    return geom


def _iter_parts(geom: Dict[str, Any]):
    """Yield (kind, coords) leaf parts: kind in {point, line, polygon};
    polygon coords = list of rings (first exterior, rest holes)."""
    t = geom["type"]
    if t == "Point":
        yield ("point", [geom["coordinates"]])
    elif t == "MultiPoint":
        yield ("point", list(geom["coordinates"]))
    elif t == "LineString":
        yield ("line", geom["coordinates"])
    elif t == "MultiLineString":
        for part in geom["coordinates"]:
            yield ("line", part)
    elif t == "Polygon":
        yield ("polygon", geom["coordinates"])
    elif t == "MultiPolygon":
        for part in geom["coordinates"]:
            yield ("polygon", part)
    elif t == "GeometryCollection":
        for g in geom.get("geometries", []):
            yield from _iter_parts(g)
    else:
        raise ValueError(f"unsupported geometry type: {t}")


def geom_bounds(geom: Dict[str, Any]) -> Tuple[float, float, float, float]:
    """(minx, miny, maxx, maxy) — empty geometries return nan bounds."""
    xs: List[float] = []
    ys: List[float] = []
    for kind, coords in _iter_parts(geom):
        if kind == "polygon":
            pts = [p for ring in coords for p in ring]
        else:
            pts = list(coords)
        xs.extend(p[0] for p in pts)
        ys.extend(p[1] for p in pts)
    if not xs:
        return (float("nan"),) * 4
    return (min(xs), min(ys), max(xs), max(ys))


def geom_is_empty(geom: Dict[str, Any]) -> bool:
    for _kind, coords in _iter_parts(geom):
        if coords:
            return False
    return True


def _segments_self_intersect(ring: np.ndarray) -> bool:
    """O(E^2) proper self-intersection test for one ring (bow-tie detector,
    the engine's stand-in for GEOS ``is_valid`` on test-scale rings).

    Fully vectorized over segment PAIRS (i-blocked to bound the n_i×n
    temporaries): the earlier per-i python loop cost ~64 ms on a 400-vertex
    ring — ~160k interpreted iterations — vs ~1 ms vectorized; same boolean
    result (any proper crossing or any collinear endpoint-touch between
    non-adjacent segments)."""
    n = len(ring) - 1
    if n < 3:
        return False
    a = ring[:-1]
    b = ring[1:]
    idx = np.arange(n)

    def on_seg(p, q, x):
        return (
            (np.minimum(p[..., 0], q[..., 0]) <= x[..., 0])
            & (x[..., 0] <= np.maximum(p[..., 0], q[..., 0]))
            & (np.minimum(p[..., 1], q[..., 1]) <= x[..., 1])
            & (x[..., 1] <= np.maximum(p[..., 1], q[..., 1]))
        )

    block = max(1, 2_000_000 // max(n, 1))  # ~2M pairs per block
    for i0 in range(0, n, block):
        i1 = min(i0 + block, n)
        ii = idx[i0:i1]
        # non-adjacent pairs: j >= i+2, excluding the (0, n-1) wrap pair
        mask = (idx[None, :] >= ii[:, None] + 2) & ~(
            (ii[:, None] == 0) & (idx[None, :] == n - 1)
        )
        if not mask.any():
            continue
        p = a[i0:i1, None, :]
        q = b[i0:i1, None, :]
        r = a[None, :, :]
        s = b[None, :, :]
        qp = q - p
        sr = s - r
        d1 = np.cross(qp, r - p)
        d2 = np.cross(qp, s - p)
        d3 = np.cross(sr, p - r)
        d4 = np.cross(sr, q - r)
        if ((d1 * d2 < 0) & (d3 * d4 < 0) & mask).any():
            return True
        # collinear overlap / endpoint-touch of non-adjacent segments is also
        # invalid for simple polygons (e.g. the bow-tie touches at a vertex)
        deg = (
            ((d1 == 0) & on_seg(p, q, r))
            | ((d2 == 0) & on_seg(p, q, s))
            | ((d3 == 0) & on_seg(r, s, p))
            | ((d4 == 0) & on_seg(r, s, q))
        )
        if (deg & mask).any():
            return True
    return False


def geom_is_valid(geom: Dict[str, Any]) -> bool:
    """Ring-simplicity check for polygons (other types are always valid
    here, matching the scope the reference tests exercise)."""
    for kind, coords in _iter_parts(geom):
        if kind != "polygon":
            continue
        for ring in coords:
            arr = np.asarray(ring, dtype=np.float64)
            if len(arr) >= 2 and not np.array_equal(arr[0], arr[-1]):
                arr = np.vstack([arr, arr[0]])
            if _segments_self_intersect(arr):
                return False
    return True


# ---------------------------------------------------------------------------
# rect-set predicates (vectorized over rects)
# ---------------------------------------------------------------------------

def _points_in_rects(px: float, py: float, rects: Rects) -> np.ndarray:
    l, b, r, t = rects
    return (px >= l) & (px <= r) & (py >= b) & (py <= t)


#: elements per (edges, rects) temporary in the rect kernels — 128 KB of
#: float64 (the multi-worker mmap/TLB discipline)
_EDGE_RECT_ELEMS = 16384


def _edge_rect_chunks(n_edges: int, n_rects: int):
    """(edge slice, rect slice) blocks whose products stay within
    ``_EDGE_RECT_ELEMS``."""
    rc = max(1, min(n_rects, _EDGE_RECT_ELEMS))
    ec = max(1, _EDGE_RECT_ELEMS // rc)
    for r0 in range(0, n_rects, rc):
        for e0 in range(0, n_edges, ec):
            yield slice(e0, e0 + ec), slice(r0, r0 + rc)


def _segments_intersect_rects(coords: np.ndarray, rects: Rects) -> np.ndarray:
    """True per rect if any polyline segment intersects the (closed) rect.

    Liang-Barsky style slab clipping of every segment against every rect,
    evaluated in (edges, rects) blocks.  A degenerate (point) segment has
    all four slab coefficients 0, so the clip reduces to the closed
    point-in-rect test.
    """
    l, b, r, t = rects
    out = np.zeros(len(l), dtype=bool)
    x0, y0 = coords[:-1, 0, None], coords[:-1, 1, None]
    x1, y1 = coords[1:, 0, None], coords[1:, 1, None]
    for es, rs in _edge_rect_chunks(len(x0), len(l)):
        ex0, ey0, ex1, ey1 = x0[es], y0[es], x1[es], y1[es]
        L, B, R, T = l[None, rs], b[None, rs], r[None, rs], t[None, rs]
        ok = (
            (L <= np.maximum(ex0, ex1)) & (R >= np.minimum(ex0, ex1))
            & (B <= np.maximum(ey0, ey1)) & (T >= np.minimum(ey0, ey1))
        )
        dx, dy = ex1 - ex0, ey1 - ey0
        # parametric clip p + u*d, u in [0,1]
        u0 = np.zeros(ok.shape)
        u1 = np.ones(ok.shape)
        for p, q in ((-dx, ex0 - L), (dx, R - ex0), (-dy, ey0 - B), (dy, T - ey0)):
            ok &= (p != 0) | (q >= 0)
            with np.errstate(divide="ignore", invalid="ignore"):
                u = q / p
            u0 = np.where(p < 0, np.maximum(u0, u), u0)
            u1 = np.where(p > 0, np.minimum(u1, u), u1)
        out[rs] |= (ok & (u0 <= u1)).any(axis=0)
    return out


def _rect_corners_in_polygon(rings: Sequence[np.ndarray], rects: Rects) -> np.ndarray:
    """Even-odd ray-cast of each rect's center point against all rings,
    evaluated in (edges, rects) blocks; the parity of the summed crossings
    is their XOR.

    Only needs to be correct for strictly-interior points: boundary contact
    is already caught by the segment-rect test.
    """
    l, b, r, t = rects
    px = (l + r) * 0.5
    py = (b + t) * 0.5
    crossings = np.zeros(len(l), dtype=np.int64)
    for ring in rings:
        x0, y0 = ring[:-1, 0, None], ring[:-1, 1, None]
        x1, y1 = ring[1:, 0, None], ring[1:, 1, None]
        for es, rs in _edge_rect_chunks(len(x0), len(l)):
            cx, cy = px[None, rs], py[None, rs]
            cond = (y0[es] > cy) != (y1[es] > cy)
            with np.errstate(divide="ignore", invalid="ignore"):
                xint = x0[es] + (cy - y0[es]) * (x1[es] - x0[es]) / (y1[es] - y0[es])
            crossings[rs] += (cond & (cx < xint)).sum(axis=0)
    return (crossings & 1).astype(bool)


def _close_ring(ring: Sequence) -> np.ndarray:
    arr = np.asarray(ring, dtype=np.float64)
    if len(arr) and not np.array_equal(arr[0], arr[-1]):
        arr = np.vstack([arr, arr[0]])
    return arr


def rects_intersect(geom: Dict[str, Any], rects: Rects) -> np.ndarray:
    """shapely-``intersects`` equivalent of geometry vs N closed rects."""
    l, b, r, t = (np.asarray(a, dtype=np.float64) for a in rects)
    rects = (l, b, r, t)
    out = np.zeros(len(l), dtype=bool)
    for kind, coords in _iter_parts(geom):
        if kind == "point":
            for px, py in coords:
                out |= _points_in_rects(px, py, rects)
        elif kind == "line":
            arr = np.asarray(coords, dtype=np.float64)
            if len(arr) == 0:
                continue
            out |= _segments_intersect_rects(arr, rects)
        else:  # polygon
            rings = [_close_ring(ring) for ring in coords if len(ring)]
            if not rings:
                continue
            hit = np.zeros(len(l), dtype=bool)
            for ring in rings:
                hit |= _segments_intersect_rects(ring, rects)
            # rect fully inside polygon (or inside a hole -> even-odd excludes)
            hit |= _rect_corners_in_polygon(rings, rects)
            out |= hit
    return out


def _clip_ring_area(ring: np.ndarray, l: float, b: float, r: float, t: float) -> float:
    """|area| of Sutherland-Hodgman clip of one ring against rect."""
    pts = ring[:-1] if len(ring) > 1 and np.array_equal(ring[0], ring[-1]) else ring
    poly = [(float(x), float(y)) for x, y in pts]

    def clip_halfplane(poly, inside, intersect):
        out = []
        n = len(poly)
        for i in range(n):
            cur = poly[i]
            prev = poly[i - 1]
            cur_in = inside(cur)
            prev_in = inside(prev)
            if cur_in:
                if not prev_in:
                    out.append(intersect(prev, cur))
                out.append(cur)
            elif prev_in:
                out.append(intersect(prev, cur))
        return out

    def ix(p, q, x):  # intersect segment with vertical line
        u = (x - p[0]) / (q[0] - p[0])
        return (x, p[1] + u * (q[1] - p[1]))

    def iy(p, q, y):
        u = (y - p[1]) / (q[1] - p[1])
        return (p[0] + u * (q[0] - p[0]), y)

    poly = clip_halfplane(poly, lambda p: p[0] >= l, lambda p, q: ix(p, q, l))
    if not poly:
        return 0.0
    poly = clip_halfplane(poly, lambda p: p[0] <= r, lambda p, q: ix(p, q, r))
    if not poly:
        return 0.0
    poly = clip_halfplane(poly, lambda p: p[1] >= b, lambda p, q: iy(p, q, b))
    if not poly:
        return 0.0
    poly = clip_halfplane(poly, lambda p: p[1] <= t, lambda p, q: iy(p, q, t))
    if not poly:
        return 0.0
    area = 0.0
    for i in range(len(poly)):
        x0, y0 = poly[i - 1]
        x1, y1 = poly[i]
        area += x0 * y1 - x1 * y0
    return abs(area) * 0.5


def rects_intersection_area(geom: Dict[str, Any], rects: Rects) -> np.ndarray:
    """Area of geometry ∩ each rect (polygonal parts only) — the
    ``exact=True`` predicate (``_tilepyramid.py:249-254``)."""
    l, b, r, t = (np.asarray(a, dtype=np.float64) for a in rects)
    out = np.zeros(len(l), dtype=np.float64)
    for kind, coords in _iter_parts(geom):
        if kind != "polygon":
            continue
        rings = [_close_ring(ring) for ring in coords if len(ring)]
        if not rings:
            continue
        for i in range(len(l)):
            area = _clip_ring_area(rings[0], l[i], b[i], r[i], t[i])
            for hole in rings[1:]:
                area -= _clip_ring_area(hole, l[i], b[i], r[i], t[i])
            out[i] += area
    return out


# ---------------------------------------------------------------------------
# SRS-bounds clip (antimeridian split/shift) — reference ``_funcs.py:22-65``
# ---------------------------------------------------------------------------

def clip_geometry_to_srs_bounds(
    geom: Dict[str, Any], bounds: Tuple[float, float, float, float], is_global: bool,
    shift: float,
) -> List[Dict[str, Any]]:
    """Split a geometry crossing the pyramid x-bounds and shift outside parts
    into range by ``±shift`` (the reference uses ``2 * pyramid.right``,
    ``_funcs.py:52-54``).  Returns list of geometry dicts (multipart=True
    form).  Only polygonal/line/point parts, via halfplane clipping."""
    minx, miny, maxx, maxy = geom_bounds(geom)
    left, bottom, right, top = bounds
    if not is_global or (minx >= left and maxx <= right and miny >= bottom and maxy <= top):
        return [geom]

    def clip_poly_x(coords, lo, hi, dx):
        rings = []
        for ring in coords:
            arr = _close_ring(ring)
            poly = [(float(x), float(y)) for x, y in arr[:-1]]
            for bound, keep_ge in ((lo, True), (hi, False)):
                if bound is None:
                    continue
                out = []
                n = len(poly)
                for i in range(n):
                    cur, prev = poly[i], poly[i - 1]
                    cur_in = cur[0] >= bound if keep_ge else cur[0] <= bound
                    prev_in = prev[0] >= bound if keep_ge else prev[0] <= bound
                    if cur_in:
                        if not prev_in:
                            u = (bound - prev[0]) / (cur[0] - prev[0])
                            out.append((bound, prev[1] + u * (cur[1] - prev[1])))
                        out.append(cur)
                    elif prev_in:
                        u = (bound - prev[0]) / (cur[0] - prev[0])
                        out.append((bound, prev[1] + u * (cur[1] - prev[1])))
                poly = out
                if not poly:
                    break
            if poly:
                ring_out = [(x + dx, y) for x, y in poly]
                ring_out.append(ring_out[0])
                rings.append(ring_out)
        return rings

    def clip_line_x(pts, lo, hi, dx):
        """Clip a polyline to the x-halfplane slab [lo, hi] (None = open),
        splicing at the boundary (interpolated crossing points) and
        splitting into separate pieces where the line leaves the slab —
        the polyline analogue of shapely's line∩box in ``_funcs.py:41``.
        Zero-length touch points (a vertex exactly on the boundary with
        both neighbors outside) are dropped."""

        def clip_seg(p, q):
            # parametric clip of segment p->q to the slab; returns
            # ((x,y),(x,y)) or None if fully outside
            x0, y0 = float(p[0]), float(p[1])
            x1, y1 = float(q[0]), float(q[1])
            t0, t1 = 0.0, 1.0
            dxx = x1 - x0
            for bound, keep_ge in ((lo, True), (hi, False)):
                if bound is None:
                    continue
                if dxx == 0.0:
                    if (x0 < bound) if keep_ge else (x0 > bound):
                        return None
                    continue
                t = (bound - x0) / dxx
                entering = (dxx > 0) if keep_ge else (dxx < 0)
                if entering:
                    t0 = max(t0, t)
                else:
                    t1 = min(t1, t)
            if t0 >= t1:
                return None
            a = (x0 + t0 * dxx, y0 + t0 * (y1 - y0)) if t0 > 0.0 else (x0, y0)
            b = (x0 + t1 * dxx, y0 + t1 * (y1 - y0)) if t1 < 1.0 else (x1, y1)
            return a, b

        pieces = []
        cur: List = []
        for i in range(len(pts) - 1):
            seg = clip_seg(pts[i], pts[i + 1])
            if seg is None:
                if len(cur) >= 2:
                    pieces.append(cur)
                cur = []
                continue
            a, b = seg
            if cur and cur[-1] == a:
                cur.append(b)
            else:
                if len(cur) >= 2:
                    pieces.append(cur)
                cur = [a, b]
        if len(cur) >= 2:
            pieces.append(cur)
        return [[(x + dx, y) for x, y in piece] for piece in pieces]

    parts: List[Dict[str, Any]] = []
    for kind, coords in _iter_parts(geom):
        if kind == "polygon":
            inside = clip_poly_x(coords, left, right, 0.0)
            west = clip_poly_x(coords, None, left, shift)
            east = clip_poly_x(coords, right, None, -shift)
            for rings in (inside, west, east):
                for ring in rings:
                    # drop degenerate slivers (zero area)
                    arr = np.asarray(ring)
                    area = 0.0
                    for i in range(len(arr) - 1):
                        area += arr[i, 0] * arr[i + 1, 1] - arr[i + 1, 0] * arr[i, 1]
                    if abs(area) * 0.5 > 0.0:
                        parts.append({"type": "Polygon", "coordinates": [ring]})
        elif kind == "line":
            for lo, hi, dx in ((left, right, 0.0), (None, left, shift), (right, None, -shift)):
                for piece in clip_line_x(list(coords), lo, hi, dx):
                    parts.append({"type": "LineString", "coordinates": piece})
        else:  # point parts: inside kept, outside shifted into range
            # (reference _funcs.py:47-55: each outside piece translated
            # by ±2·pyramid.right toward the grid)
            for x, y in coords:
                x, y = float(x), float(y)
                if x < left:
                    x += shift
                elif x > right:
                    x -= shift
                parts.append({"type": "Point", "coordinates": (x, y)})
    return parts
