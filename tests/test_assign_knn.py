"""Point-assignment, salted aggregation, and kNN join vs brute-force oracle."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from tilematrix_spark.operators import assign, hierarchy, knn


def _points_df(spark, n, seed_tag="p"):
    # deterministic low-discrepancy scatter (golden-ratio lattice)
    # R2 low-discrepancy pair (golden-ratio pair is collinear mod 1)
    phi1, phi2 = 0.7548776662466927, 0.5698402909980532
    # start at 1: i=0 lands exactly on (-180,-90) where on_edge_use="rb"
    # yields an invalid tile (the reference raises there as well)
    rows = [
        (i, -180.0 + ((i * phi1) % 1.0) * 360.0, -90.0 + ((i * phi2) % 1.0) * 180.0)
        for i in range(1, n + 1)
    ]
    return spark.createDataFrame(rows, f"{seed_tag}id long, lon double, lat double")


def test_with_tile_basic(spark, geodetic):
    df = spark.createDataFrame(
        [(1, 0.5, 0.5), (2, -300.0, 0.0)], "id int, lon double, lat double"
    )
    out = assign.with_tile(df, geodetic, 5)
    got = {(r["id"], r["row"], r["col"]) for r in out.collect()}
    assert got == {(1, 15, 32)}  # out-of-grid row dropped
    kept = assign.with_tile(df, geodetic, 5, keep_invalid=True)
    assert kept.count() == 2


def test_salted_agg_matches_plain(spark, geodetic):
    df = _points_df(spark, 2000)
    tiled = assign.with_tile(df, geodetic, 2, "lon", "lat")
    plain = {
        (r["row"], r["col"]): r["n"]
        for r in tiled.groupBy("row", "col").agg(F.count("*").alias("n")).collect()
    }
    salted = {
        (r["row"], r["col"]): r["n"]
        for r in assign.salted_agg(tiled, ["row", "col"], {"n": "count:*"}, 8).collect()
    }
    assert salted == plain
    # sum/min/max decomposition
    plain2 = tiled.groupBy("row", "col").agg(
        F.sum("lon").alias("s"), F.min("lat").alias("mn"), F.max("lat").alias("mx")
    )
    salted2 = assign.salted_agg(
        tiled, ["row", "col"], {"s": "sum:lon", "mn": "min:lat", "mx": "max:lat"}, 8
    )
    p = {(r["row"], r["col"]): (r["mn"], r["mx"]) for r in plain2.collect()}
    s = {(r["row"], r["col"]): (r["mn"], r["mx"]) for r in salted2.collect()}
    assert p == s


def test_tile_histogram_total(spark, geodetic):
    df = _points_df(spark, 500)
    hist = assign.tile_histogram(df, geodetic, 3, salt_buckets=4)
    assert hist.agg(F.sum("n")).collect()[0][0] == 500


def test_disc_tiles_matches_k_ring(spark, geodetic):
    df = spark.createDataFrame([(8, 100, 100), (3, 1, 0)], "zoom int, row long, col long")
    for radius in (1, 2):
        a = {
            (r["zoom"], r["row"], r["col"], r["ring_row"], r["ring_col"])
            for r in hierarchy.disc_tiles(df, geodetic, radius).collect()
        }
        b = {
            (r["zoom"], r["row"], r["col"], r["ring_row"], r["ring_col"])
            for r in hierarchy.k_ring(df, geodetic, k=radius, include_center=True).select(
                "zoom", "row", "col", "ring_row", "ring_col"
            ).collect()
        }
        assert a == b


def test_start_radius_matches_disc_count_loop():
    # the prefix-sum bisection equals the least radius whose disc, counted
    # tile by tile (rows clamp, columns wrap on global grids), holds k points
    rng = np.random.default_rng(5)
    for (mh, mw), is_global in [((4, 4), True), ((5, 8), True), ((3, 7), False), ((6, 2), False)]:
        counts = rng.integers(0, 2, (mh, mw)) * rng.integers(0, 3, (mh, mw))
        for k in (1, 3, int(counts.sum()) + 1):
            got = knn._start_radius(counts, k, is_global)
            for r, c in np.ndindex(mh, mw):
                for rad in range(max(mh, mw)):
                    rows = range(max(r - rad, 0), min(r + rad, mh - 1) + 1)
                    if is_global:
                        cols = {(c + d) % mw for d in range(-rad, rad + 1)}
                    else:
                        cols = range(max(c - rad, 0), min(c + rad, mw - 1) + 1)
                    if sum(counts[i, j] for i in rows for j in cols) >= k:
                        break
                assert got[r, c] == rad, (mh, mw, is_global, k, r, c)


def test_knn_matches_brute_force(spark, geodetic):
    queries = _points_df(spark, 23, "q").withColumnRenamed("qid", "qid")
    points = _points_df(spark, 400, "p").withColumnRenamed("pid", "pid")
    got = knn.knn_join(queries, points, geodetic, zoom=4, k=3, query_id="qid", point_id="pid")
    oracle = knn.knn_brute_force(queries, points, geodetic, k=3, query_id="qid", point_id="pid")
    g = {(r["qid"], r["rank"]): r["pid"] for r in got.collect()}
    o = {(r["qid"], r["rank"]): r["pid"] for r in oracle.collect()}
    assert g == o


@pytest.mark.parametrize(
    "grid, zoom, k", [("geodetic", 5, 5), ("mercator", 2, 1), ("mercator", 2, 2)]
)
def test_knn_sparse_points(spark, request, grid, zoom, k):
    tp = request.getfixturevalue(grid)
    if grid == "geodetic":
        # fewer points than k and far away: the search must cover the matrix
        queries = _points_df(spark, 3, "q")
        rows = [(0, 10.0, 10.0), (1, -120.0, 45.0)]
    else:
        # square 4x4 matrix: the nearest point to a row-0 query sits in row
        # 3, outside a disc that already spans every column (2r+1 >= 4)
        w, h = tp.tile_x_size(zoom), tp.tile_y_size(zoom)
        queries = spark.createDataFrame(
            [(0, tp.left + 0.5 * w, tp.top - h + 1)], "qid long, lon double, lat double"
        )
        rows = [
            (1, tp.left + 2.5 * w, tp.top - 3 * h + 1),
            (2, tp.left + 0.5 * w, tp.top - 3 * h - 1),
        ]
    points = spark.createDataFrame(rows, "pid long, lon double, lat double")
    got = knn.knn_join(queries, points, tp, zoom=zoom, k=k, query_id="qid", point_id="pid")
    oracle = knn.knn_brute_force(queries, points, tp, k=k, query_id="qid", point_id="pid")
    g = {(r["qid"], r["rank"]): r["pid"] for r in got.collect()}
    o = {(r["qid"], r["rank"]): r["pid"] for r in oracle.collect()}
    assert g == o
