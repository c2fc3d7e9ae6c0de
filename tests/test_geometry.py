"""Geometry spatial-join goldens — reference ``test_geometries.py:202-336``,
``test_tilepyramid.py:327-345``, ``test_helper_funcs.py:9-66``."""

import json

import pytest

from tilematrix_spark import geomkernels
from tilematrix_spark.operators import geometry as geom_ops

from .conftest import (
    LINESTRING,
    MULTILINESTRING,
    MULTIPOINT,
    MULTIPOLYGON,
    POLYGON,
    TILE_BOUNDS_POLYGON,
)


def _geom_tiles(spark, tp, geom, zoom, **kw):
    df = spark.createDataFrame([(1, json.dumps(geom))], "id int, geometry string")
    out = geom_ops.tiles_from_geom(df, tp, zoom, **kw)
    return {(zoom, r["row"], r["col"]) for r in out.select("row", "col").collect()}


def test_tiles_from_point(spark, geodetic):
    got = _geom_tiles(spark, geodetic, {"type": "Point", "coordinates": (16.36, 48.2)}, 6)
    assert len(got) == 1
    # out-of-grid point -> dropped (reference raises)
    got = _geom_tiles(spark, geodetic, {"type": "Point", "coordinates": (-300.0, 100.0)}, 6)
    assert got == set()


def test_tiles_from_multipoint(spark, geodetic):
    got = _geom_tiles(spark, geodetic, MULTIPOINT, 9)
    assert got == {(9, 113, 553), (9, 118, 558)}


def test_tiles_from_linestring(spark, geodetic):
    got = _geom_tiles(spark, geodetic, LINESTRING, 8)
    assert got == {
        (8, 58, 270), (8, 58, 271), (8, 58, 272), (8, 58, 273),
        (8, 59, 267), (8, 59, 268), (8, 59, 269), (8, 59, 270),
    }


def test_tiles_from_multilinestring(spark, geodetic):
    got = _geom_tiles(spark, geodetic, MULTILINESTRING, 8)
    assert got == {
        (8, 58, 270), (8, 58, 271), (8, 58, 272), (8, 58, 273),
        (8, 59, 267), (8, 59, 268), (8, 59, 269), (8, 59, 270),
        (8, 125, 302), (8, 126, 302), (8, 126, 303), (8, 127, 303),
    }


GOLDEN_POLYGON_TILES = {
    (9, 116, 544), (9, 116, 545), (9, 116, 546),
    (9, 117, 540), (9, 117, 541), (9, 117, 542), (9, 117, 543), (9, 117, 544), (9, 117, 545),
    (9, 118, 536), (9, 118, 537), (9, 118, 538), (9, 118, 539), (9, 118, 540), (9, 118, 541),
    (9, 119, 535), (9, 119, 536), (9, 119, 537), (9, 119, 538),
}


def test_tiles_from_polygon(spark, geodetic):
    assert _geom_tiles(spark, geodetic, POLYGON, 9) == GOLDEN_POLYGON_TILES


def test_tiles_from_multipolygon(spark, geodetic):
    got = _geom_tiles(spark, geodetic, MULTIPOLYGON, 9)
    assert got == GOLDEN_POLYGON_TILES | {
        (9, 251, 604), (9, 251, 605), (9, 252, 604), (9, 252, 605),
        (9, 253, 605), (9, 253, 606), (9, 254, 605), (9, 254, 606), (9, 255, 606),
    }


def test_tiles_from_empty_geom(spark, geodetic):
    got = _geom_tiles(spark, geodetic, {"type": "Polygon", "coordinates": []}, 6)
    assert got == set()


def test_tiles_from_invalid_geom(spark, geodetic):
    # bow-tie-like invalid polygon (reference conftest.py:66-82) -> dropped
    invalid = {
        "type": "Polygon",
        "coordinates": [
            [(0, 0), (0, 3), (3, 3), (3, 0), (2, 0), (2, 2), (1, 2), (1, 1), (2, 1), (2, 0), (0, 0)]
        ],
    }
    assert not geomkernels.geom_is_valid(invalid)
    assert _geom_tiles(spark, geodetic, invalid, 6) == set()


def test_tiles_from_geom_exact(spark, geodetic):
    # reference test_tilepyramid.py:327-345: 4 tiles default, 3 exact
    assert len(_geom_tiles(spark, geodetic, TILE_BOUNDS_POLYGON, 3)) == 4
    assert len(_geom_tiles(spark, geodetic, TILE_BOUNDS_POLYGON, 3, exact=True)) == 3


def test_point_containment_metatiling(spark):
    # reference test_geometries.py:217-225
    from tilematrix_spark.grid import PyramidConfig

    point = {"type": "Point", "coordinates": (16.36, 48.2)}
    for mt in (1, 2, 4, 8, 16):
        tp = PyramidConfig.create("geodetic", metatiling=mt)
        got = _geom_tiles(spark, tp, point, 6)
        assert len(got) == 1
        (_, row, col) = next(iter(got))
        h, w = tp.tile_y_size(6), tp.tile_x_size(6)
        top, left = tp.top - row * h, tp.left + col * w
        assert left < 16.36 < left + w and top - h < 48.2 < top


# ---- kernel-level tests ---------------------------------------------------

def test_clip_geometry_antimeridian_parts():
    # reference test_helper_funcs.py:9-50: boxes crossing west/east/both
    bounds = (-180.0, -90.0, 180.0, 90.0)

    def box(l, b, r, t):
        return {"type": "Polygon", "coordinates": [[(l, b), (l, t), (r, t), (r, b), (l, b)]]}

    for geom, n_parts in [
        (box(-183.125, 67.5, -177.5, 73.125), 2),   # west
        (box(177.5, 67.5, 183.125, 73.125), 2),     # east
        (box(-183.125, 67.5, 183.125, 73.125), 3),  # both
        (box(-170.0, 10.0, -160.0, 20.0), 1),       # inside: passthrough
    ]:
        parts = geomkernels.clip_geometry_to_srs_bounds(geom, bounds, True, shift=360.0)
        assert len(parts) == n_parts
        for part in parts:
            minx, _, maxx, _ = geomkernels.geom_bounds(part)
            assert minx >= -180.0 and maxx <= 180.0


def test_clip_linestring_antimeridian_parts():
    # mirror of reference test_helper_funcs.py:37-46 semantics for a
    # non-polygonal geometry: a LineString crossing the antimeridian splits
    # into an inside piece and a shifted outside piece, spliced at x=±180
    # with interpolated crossing points (shapely line∩box / line−box)
    bounds = (-180.0, -90.0, 180.0, 90.0)
    line = {"type": "LineString", "coordinates": [(-183.125, 70.0), (-177.5, 71.0)]}
    parts = geomkernels.clip_geometry_to_srs_bounds(line, bounds, True, shift=360.0)
    assert len(parts) == 2
    assert all(p["type"] == "LineString" for p in parts)
    y_cross = 70.0 + ((-180.0 + 183.125) / (-177.5 + 183.125)) * 1.0
    inside, west = parts
    assert inside["coordinates"][0] == (-180.0, y_cross)
    assert inside["coordinates"][-1] == (-177.5, 71.0)
    # west part translated by +360 into range, ending at the right bound
    assert west["coordinates"][0] == (-183.125 + 360.0, 70.0)
    assert west["coordinates"][-1] == (180.0, y_cross)
    for p in parts:
        minx, _, maxx, _ = geomkernels.geom_bounds(p)
        assert minx >= -180.0 and maxx <= 180.0

    # zig-zag crossing BOTH bounds -> 3 parts, every piece in range
    zig = {
        "type": "LineString",
        "coordinates": [(-185.0, 0.0), (-170.0, 5.0), (170.0, 10.0), (185.0, 15.0)],
    }
    parts = geomkernels.clip_geometry_to_srs_bounds(zig, bounds, True, shift=360.0)
    assert len(parts) == 3
    for p in parts:
        minx, _, maxx, _ = geomkernels.geom_bounds(p)
        assert minx >= -180.0 and maxx <= 180.0


def test_clip_multipoint_antimeridian_parts():
    bounds = (-180.0, -90.0, 180.0, 90.0)
    mp = {"type": "MultiPoint", "coordinates": [(-183.0, 70.0), (10.0, 10.0), (185.0, 5.0)]}
    parts = geomkernels.clip_geometry_to_srs_bounds(mp, bounds, True, shift=360.0)
    assert [p["type"] for p in parts] == ["Point"] * 3
    assert [p["coordinates"] for p in parts] == [
        (177.0, 70.0), (10.0, 10.0), (-175.0, 5.0)
    ]


def test_tiles_from_geom_line_antimeridian_end_to_end(spark):
    # end-to-end parity: the engine's shifted-rect refine on the RAW
    # crossing LineString must yield exactly the union of tiles of the
    # clipped-and-shifted parts (the reference materializes the parts;
    # set-equivalence is the operator contract)
    from tilematrix_spark.grid import PyramidConfig

    tp = PyramidConfig.create("geodetic")
    raw = {"type": "LineString", "coordinates": [(-183.125, 67.5), (-177.5, 73.125)]}
    got_raw = _geom_tiles(spark, tp, raw, 5)
    parts = geomkernels.clip_geometry_to_srs_bounds(
        raw, (tp.left, tp.bottom, tp.right, tp.top), True, shift=2 * tp.right
    )
    got_parts = set()
    for p in parts:
        got_parts |= _geom_tiles(spark, tp, p, 5)
    assert got_raw == got_parts and got_raw


def test_rects_intersect_touch_counts():
    poly = {"type": "Polygon", "coordinates": [[(0, 0), (0, 1), (1, 1), (1, 0), (0, 0)]]}
    import numpy as np

    rects = (
        np.array([1.0, 1.5, -1.0, 0.25]),
        np.array([0.0, 0.0, -1.0, 0.25]),
        np.array([2.0, 2.5, -0.5, 0.75]),
        np.array([1.0, 1.0, -0.5, 0.75]),
    )
    got = geomkernels.rects_intersect(poly, rects).tolist()
    # touching edge counts; disjoint doesn't; strictly inside rect counts
    assert got == [True, False, False, True]


def _ref_segments_intersect_rects(coords, rects):
    """Per-edge reference of the slab clip: one segment at a time."""
    import numpy as np

    l, b, r, t = rects
    out = np.zeros(len(l), dtype=bool)
    for i in range(len(coords) - 1):
        x0, y0 = coords[i]
        x1, y1 = coords[i + 1]
        cand = (l <= max(x0, x1)) & (r >= min(x0, x1)) & (b <= max(y0, y1)) & (t >= min(y0, y1))
        dx, dy = x1 - x0, y1 - y0
        if dx == 0 and dy == 0:
            out |= cand & (x0 >= l) & (x0 <= r) & (y0 >= b) & (y0 <= t)
            continue
        u0, u1, ok = np.zeros(len(l)), np.ones(len(l)), cand.copy()
        for p, q in ((-dx, x0 - l), (dx, r - x0), (-dy, y0 - b), (dy, t - y0)):
            if p == 0:
                ok &= q >= 0
            elif p < 0:
                u0 = np.where(ok, np.maximum(u0, q / p), u0)
            else:
                u1 = np.where(ok, np.minimum(u1, q / p), u1)
        out |= ok & (u0 <= u1)
    return out


def _ref_rect_centres_in_rings(rings, rects):
    """Per-edge reference of the centre ray-cast: XOR one crossing at a time."""
    import numpy as np

    l, b, r, t = rects
    px, py = (l + r) * 0.5, (b + t) * 0.5
    inside = np.zeros(len(l), dtype=bool)
    for ring in rings:
        for j in range(len(ring) - 1):
            (x0, y0), (x1, y1) = ring[j], ring[j + 1]
            cond = (y0 > py) != (y1 > py)
            with np.errstate(divide="ignore", invalid="ignore"):
                xint = x0 + (py - y0) * (x1 - x0) / (y1 - y0)
            inside ^= cond & (px < xint)
    return inside


@pytest.mark.parametrize("n_rects", [7, 3000, 40000])
def test_rect_kernels_match_per_edge_reference(n_rects):
    """The blocked (edges x rects) rect kernels equal their per-edge loops
    bit for bit: coordinates on a coarse lattice make edges touch rect
    sides and corners exactly, a repeated vertex makes a point segment,
    and the rect counts span one block, several rect blocks and edge
    blocks of one edge."""
    import numpy as np

    rng = np.random.default_rng(11)
    for trial in range(4):
        n = 60
        ang = np.sort(rng.uniform(0.0, 2 * np.pi, n))
        rad = rng.integers(4, 20, n) / 2.0
        ring = np.column_stack([np.round(rad * np.cos(ang) * 4) / 4, np.round(rad * np.sin(ang) * 4) / 4])
        ring[5] = ring[4]  # a point segment
        ring = geomkernels._close_ring(ring)
        hole = geomkernels._close_ring(np.array([[0.0, 0.0], [1.5, 0.0], [1.5, 1.5], [0.0, 1.5]]))
        lo = rng.integers(-48, 48, (2, n_rects)) / 4.0
        size = rng.integers(0, 12, (2, n_rects)) / 4.0
        rects = (lo[0], lo[1], lo[0] + size[0], lo[1] + size[1])
        for coords in (ring, hole):
            got = geomkernels._segments_intersect_rects(coords, rects)
            assert np.array_equal(got, _ref_segments_intersect_rects(coords, rects)), trial
        got = geomkernels._rect_corners_in_polygon([ring, hole], rects)
        assert np.array_equal(got, _ref_rect_centres_in_rings([ring, hole], rects)), trial


def test_rects_intersection_area():
    import numpy as np

    poly = {"type": "Polygon", "coordinates": [[(0, 0), (0, 2), (2, 2), (2, 0), (0, 0)]]}
    rects = (
        np.array([1.0, 2.0, -1.0]),
        np.array([1.0, 0.0, -1.0]),
        np.array([3.0, 3.0, 0.0]),
        np.array([3.0, 1.0, 0.0]),
    )
    area = geomkernels.rects_intersection_area(poly, rects)
    assert area.tolist() == [1.0, 0.0, 0.0]  # overlap 1x1; edge-touch 0; corner-touch 0


def test_polygon_with_hole():
    import numpy as np

    poly = {
        "type": "Polygon",
        "coordinates": [
            [(0, 0), (0, 10), (10, 10), (10, 0), (0, 0)],
            [(4, 4), (4, 6), (6, 6), (6, 4), (4, 4)],
        ],
    }
    rects = (
        np.array([4.5, 0.5, 3.5]),
        np.array([4.5, 0.5, 3.5]),
        np.array([5.5, 1.5, 6.5]),
        np.array([5.5, 1.5, 6.5]),
    )
    hit = geomkernels.rects_intersect(poly, rects).tolist()
    # rect inside hole -> no; rect in solid part -> yes; rect spanning hole edge -> yes
    assert hit == [False, True, True]
    area = geomkernels.rects_intersection_area(poly, rects)
    assert area[0] == 0.0 and area[1] == 1.0 and 0.0 < area[2] < 9.0


@pytest.mark.parametrize("batch", [None, "row"])
def test_geom_batch_parity(spark, geodetic, batch):
    # batch==flat parity (reference test_geometries.py:339-432) is inherent:
    # partitioning is physical; assert multi-row inputs are independent
    df = spark.createDataFrame(
        [(1, json.dumps(POLYGON)), (2, json.dumps(LINESTRING))], "id int, geometry string"
    )
    out = geom_ops.tiles_from_geom(df, geodetic, 9)
    n1 = out.filter("id = 1").count()
    n2 = out.filter("id = 2").count()
    assert n1 == len(GOLDEN_POLYGON_TILES)
    assert n2 == len(_geom_tiles(spark, geodetic, LINESTRING, 9))


def test_tiles_from_geometrycollection(spark, geodetic):
    gc = {
        "type": "GeometryCollection",
        "geometries": [
            {"type": "Point", "coordinates": (16.36, 48.2)},
            POLYGON,
        ],
    }
    # reference dispatches GeometryCollection through the generic path
    # (_tilepyramid.py:232-239): bbox cover + intersects on all parts
    got = _geom_tiles(spark, geodetic, gc, 9)
    poly_tiles = _geom_tiles(spark, geodetic, POLYGON, 9)
    pt_tiles = _geom_tiles(
        spark, geodetic, {"type": "MultiPoint", "coordinates": [(16.36, 48.2)]}, 9
    )
    assert got == poly_tiles | pt_tiles
