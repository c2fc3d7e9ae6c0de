"""Synthetic images table + raster verification tests."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from tilematrix_spark import images, raster


def test_images_deterministic(spark):
    df1 = images.images_df(spark, 50, partitions=4).orderBy("image_id").collect()
    df2 = images.images_df(spark, 50, partitions=2).orderBy("image_id").collect()
    assert [r["image_id"] for r in df1] == [r["image_id"] for r in df2]
    assert [r["phash"] for r in df1] == [r["phash"] for r in df2]
    assert [bytes(r["bytes"]) for r in df1] == [bytes(r["bytes"]) for r in df2]


def test_encode_decode_roundtrip():
    px = images.gen_pixels(7, 32, 16)
    raw = images.decode(images.encode(px, "raw"), 32, 16, "raw")
    assert np.array_equal(raw, px)
    lossy = images.decode(images.encode(px, "q8"), 32, 16, "q8")
    assert images.psnr(lossy, px) >= 40.0
    assert np.abs(lossy.astype(int) - px.astype(int)).max() <= 4


def test_verify_images_all_ok(spark):
    df = images.images_df(spark, 200, partitions=4)
    v = raster.verify_images(df)
    agg = v.agg(
        F.count("*").alias("n"),
        F.sum(F.col("ok").cast("int")).alias("n_ok"),
        F.min("psnr").alias("min_psnr"),
    ).collect()[0]
    assert agg["n"] == 200
    assert agg["n_ok"] == 200
    assert agg["min_psnr"] >= 40.0


def test_verify_images_detects_corruption(spark):
    df = images.images_df(spark, 20, partitions=2)
    corrupted = df.withColumn(
        "caption", F.when(F.col("image_id") == "img000000000003", F.lit("tampered")).otherwise(F.col("caption"))
    )
    v = raster.verify_images(corrupted)
    bad = v.filter(~F.col("ok")).collect()
    assert [r["image_id"] for r in bad] == ["img000000000003"]
    assert not bad[0]["caption_ok"]


def test_raster_tile_windows(spark, geodetic):
    df = images.images_df(spark, 100, partitions=4)
    win = raster.raster_tile_windows(df, geodetic, 6)
    rows = win.select("image_id", "w", "h", "row", "col", "win_col_off", "win_row_off", "win_width", "win_height").collect()
    assert len(rows) >= 100  # every footprint covers >= 1 tile
    for r in rows:
        assert 0 <= r["win_col_off"] <= 256
        assert 0 <= r["win_row_off"] <= 256
        assert 0 <= r["win_width"] <= 256
        assert 0 <= r["win_height"] <= 256
    # windows tile the footprint: per image, total window area >= footprint pixel area
    per_img = {}
    for r in rows:
        per_img.setdefault(r["image_id"], 0)
        per_img[r["image_id"]] += r["win_width"] * r["win_height"]
    assert all(v > 0 for v in per_img.values())


def test_hot_cluster_skew_present(spark, geodetic):
    from tilematrix_spark.operators import assign

    df = images.images_df(spark, 1000, partitions=4)
    hist = assign.tile_histogram(df, geodetic, 3, salt_buckets=8)
    top = hist.orderBy(F.desc("n")).first()
    # ~10% of rows in one small cluster -> that z3 tile is clearly hottest
    assert top["n"] >= 100
    assert (top["row"], top["col"]) == (1, 8)


def test_average_hash_batch_matches_single():
    """Batched hashing must be bit-identical to the per-row reference for
    every shape the synthetic table produces (all multiples of 8) plus an
    uneven-shape fallback."""
    import numpy as np
    from tilematrix_spark import images

    rng = np.random.Generator(np.random.PCG64(9))
    for (w, h) in [(16, 16), (16, 64), (48, 32), (64, 64), (20, 12)]:
        stack = rng.integers(0, 256, size=(6, h, w, 3), dtype=np.uint8)
        batch = images.average_hash_batch(stack)
        single = [images.average_hash(stack[i]) for i in range(6)]
        assert list(batch) == single, (w, h)


def test_make_rows_batch_matches_make_row():
    """Field-for-field parity of the vectorized generator with the scalar
    reference path over ids covering every branch: hot cluster (i%10==3),
    exact grid-edge (i%97==0), antimeridian footprint (i%101==7), q8 format
    (i%5==0), and generic rows — verify_images regenerates via the batch
    path, so a silent divergence would otherwise be self-consistent."""
    ids = [0, 1, 2, 3, 5, 7, 10, 13, 42, 97, 108, 194, 303, 505, 707, 999]
    batch = images.make_rows_batch(np.asarray(ids, dtype=np.int64))
    for j, i in enumerate(ids):
        row = images.make_row(i)
        for field in row:
            got = batch.iloc[j][field]
            if isinstance(row[field], float):
                assert got == row[field], (i, field)
            elif isinstance(row[field], bytes):
                assert bytes(got) == row[field], (i, field)
            else:
                assert got == row[field], (i, field)


def _tp():
    from tilematrix_spark.grid import PyramidConfig

    return PyramidConfig.create("geodetic")


def test_compose_tiles_two_overlapping_solid_images(spark):
    """Two solid-color images with the same footprint: the composed canvas
    must be the integer mean in the covered window and 0 elsewhere."""
    tp = _tp()
    z = 2  # 45-degree tiles: the footprint sits strictly inside (row=1, col=2)
    fp = (-80.0, 10.0, -60.0, 30.0)
    rows = []
    for i, color in ((0, 100), (1, 40)):
        px = np.full((16, 16, 3), color, dtype=np.uint8)
        rows.append(
            {
                "image_id": f"s{i}", "bytes": bytearray(px.tobytes()),
                "w": 16, "h": 16, "fmt": "raw",
                "fp_left": fp[0], "fp_bottom": fp[1], "fp_right": fp[2], "fp_top": fp[3],
            }
        )
    df = spark.createDataFrame(rows)
    from tilematrix_spark import raster

    out = raster.compose_tiles(df, tp, z).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["row"], r["col"], r["n_images"]) == (1, 2, 2)
    canvas = np.frombuffer(bytes(r["bytes"]), dtype=np.uint8).reshape(
        r["tile_h"], r["tile_w"], 3
    )
    covered = canvas[canvas.sum(axis=2) > 0]
    assert len(covered) > 0
    assert (covered == 70).all()  # (100 + 40) // 2
    # window position: tile (1,2) spans x [-90,-45], y [0,45]; the footprint
    # occupies the middle — canvas corners stay empty
    assert canvas[0, 0].sum() == 0 and canvas[-1, -1].sum() == 0


def test_compose_tiles_single_image_window_matches_resample(spark):
    """One deterministic library image: the canvas window must equal an
    independently computed nearest-neighbor resample of the decoded image
    (same pixel-center mapping, scalar loops)."""
    import pandas as pd

    from tilematrix_spark import raster

    tp = _tp()
    z = 5
    row = images.make_row(1)  # generic branch, no antimeridian
    df = spark.createDataFrame(pd.DataFrame([row]))
    outs = raster.compose_tiles(df, tp, z).collect()
    assert outs
    img = images.decode(row["bytes"], row["w"], row["h"], row["fmt"])
    px = tp.pixel_x_size(z)
    h_t = tp.tile_y_size(z)
    checked = 0
    for r in outs:
        canvas = np.frombuffer(bytes(r["bytes"]), dtype=np.uint8).reshape(
            r["tile_h"], r["tile_w"], 3
        )
        t_left = tp.left + r["col"] * h_t
        t_top = tp.top - r["row"] * h_t
        for i in range(r["tile_h"]):
            for j in range(r["tile_w"]):
                x = t_left + (j + 0.5) * px
                y = t_top - (i + 0.5) * px
                inside = row["fp_left"] <= x < row["fp_right"] and row["fp_bottom"] < y <= row["fp_top"]
                if not inside:
                    continue
                u = int(np.clip((x - row["fp_left"]) / (row["fp_right"] - row["fp_left"]) * row["w"], 0, row["w"] - 1))
                v = int(np.clip((y - row["fp_top"]) / (row["fp_bottom"] - row["fp_top"]) * row["h"], 0, row["h"] - 1))
                assert (canvas[i, j] == img[v, u]).all(), (r["row"], r["col"], i, j)
                checked += 1
    assert checked > 50


def test_compose_tiles_partition_invariant(spark):
    """Canvases and n_images do not depend on how contributors are split
    into partitions or Arrow batches — the map-side partials add integer
    planes, which is associative — and equal a driver-side single pass of
    ``_accumulate`` over each tile's collected window rows.  The input has
    a 300-contributor hot tile, antimeridian straddlers and a scattered
    tail."""
    import pandas as pd

    from tilematrix_spark import raster

    tp = _tp()
    z = 4
    hot = (
        images.images_df(spark, 300, partitions=4)
        .withColumn("fp_left", F.lit(8.6)).withColumn("fp_right", F.lit(11.1))
        .withColumn("fp_bottom", F.lit(39.5)).withColumn("fp_top", F.lit(42.0))
    )
    df = hot.unionByName(images.images_df(spark, 220, partitions=4))

    def compose(src):
        return {
            (r["row"], r["col"]): (r["n_images"], r["tile_w"], r["tile_h"], bytes(r["bytes"]))
            for r in raster.compose_tiles(src, tp, z).collect()
        }

    one = compose(df.repartition(1))
    seven = compose(df.repartition(7))
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "16")
    try:
        small_batches = compose(df.repartition(7))
    finally:
        spark.conf.set(key, prev)
    assert one == seven == small_batches

    win = raster._nonempty(raster._windows(df, tp, z)).select(
        *raster._WIN_COLS, *raster._TILE_COLS
    ).toPandas()
    assert (win["fp_right"] > 180.0).any()  # straddlers reach the wrapped tiles
    span = tp.right - tp.left
    want = {}
    for (r, c), rows in win.groupby(["row", "col"]):
        acc, cnt, blended, tw, th = raster._accumulate(
            pd.DataFrame(rows), tp.pixel_x_size(z), tp.pixel_y_size(z), span
        )
        want[(int(r), int(c))] = (blended, tw, th, raster._finalize(acc, cnt))
    assert one == want
    assert max(n for n, *_ in want.values()) >= 300


def test_compose_tiles_contributor_quarantine(spark):
    """max_contributors_per_tile bounds decode work on pathological tiles:
    capped tiles blend a deterministic hash-sample, the rest are counted in
    n_quarantined (n_images + n_quarantined == true contributor count), the
    result is stable across runs, and uncapped calls keep the original
    schema untouched."""
    from tilematrix_spark import raster

    tp = _tp()
    # 300 contributors all strictly inside one z4 tile + a scattered tail
    hot = (
        images.images_df(spark, 300, partitions=4)
        .withColumn("fp_left", F.lit(8.6)).withColumn("fp_right", F.lit(11.1))
        .withColumn("fp_bottom", F.lit(39.5)).withColumn("fp_top", F.lit(42.0))
    )
    df = hot.unionByName(images.images_df(spark, 60, partitions=4))

    full = {
        (r["row"], r["col"]): r["n_images"]
        for r in raster.compose_tiles(df, tp, 4).collect()
    }
    assert "n_quarantined" not in raster.compose_tiles(df, tp, 4).columns

    capped = raster.compose_tiles(df, tp, 4, max_contributors_per_tile=50)
    rows1 = {(r["row"], r["col"]): r for r in capped.collect()}
    rows2 = {(r["row"], r["col"]): r for r in capped.collect()}
    assert set(rows1) == set(full)
    quarantined_somewhere = False
    for k, r in rows1.items():
        assert r["n_images"] + r["n_quarantined"] == full[k], k
        # deterministic: same sample, same canvas, run to run
        assert bytes(r["bytes"]) == bytes(rows2[k]["bytes"]), k
        assert r["n_quarantined"] == rows2[k]["n_quarantined"], k
        if r["n_quarantined"] > 0:
            quarantined_somewhere = True
            # hash-sampling keeps ~cap: generous stochastic bound
            assert r["n_images"] <= 3 * 50, k
        elif full[k] <= 50:
            assert r["n_quarantined"] == 0, k
    assert quarantined_somewhere  # the 300-contributor tile was capped


def test_registered_decoder_drives_compose_and_verify(spark):
    """A runtime-registered 'jpeg' codec is exercised by every decoding
    kernel, not just feature extraction: verify_images passes and
    compose_tiles produces byte-identical canvases on a corpus where half
    the rows dispatch through the registered decoder (the fake codec is a
    raw reshape, so registry dispatch is the only difference)."""
    from tilematrix_spark import raster
    from tilematrix_spark.functions import multimodal

    def fake_jpeg(data, w, h):
        return np.frombuffer(data, dtype=np.uint8).reshape(h, w, 3)

    tp = _tp()
    base = images.images_df(spark, 120, partitions=4).filter("fmt = 'raw'")
    mixed = base.withColumn(
        "fmt",
        F.when(F.xxhash64("image_id") % 2 == 0, F.lit("jpeg")).otherwise(F.col("fmt")),
    )
    assert mixed.filter("fmt = 'jpeg'").count() > 0
    multimodal.register_decoder("jpeg", fake_jpeg)
    try:
        v = raster.verify_images(mixed)
        agg = v.agg(
            F.count("*").alias("n"), F.sum(F.col("ok").cast("int")).alias("n_ok")
        ).collect()[0]
        assert agg["n"] == agg["n_ok"] > 0

        want = {
            (r["row"], r["col"]): (r["n_images"], bytes(r["bytes"]))
            for r in raster.compose_tiles(base, tp, 4).collect()
        }
        got = {
            (r["row"], r["col"]): (r["n_images"], bytes(r["bytes"]))
            for r in raster.compose_tiles(mixed, tp, 4).collect()
        }
        assert got == want
    finally:
        multimodal.unregister_decoder("jpeg")


def test_overview_level_matches_numpy_mirror(spark):
    """One overview step equals an exact numpy mirror: children grouped by
    (row//2, col//2), each 2x2 box-filtered (integer mean) into its
    (row%2, col%2) quadrant, missing quadrants black."""
    df = images.images_df(spark, 220, partitions=4)
    tp = _tp()
    base = raster.compose_tiles(df, tp, 3).collect()
    got = {
        (r["row"], r["col"]): r
        for r in raster.overview_level(raster.compose_tiles(df, tp, 3)).collect()
    }

    want = {}
    for r in base:
        key = (r["row"] // 2, r["col"] // 2)
        th, tw = r["tile_h"], r["tile_w"]
        canvas, n = want.setdefault(
            key, [np.zeros((th, tw, 3), dtype=np.uint8), 0]
        )
        img = np.frombuffer(bytes(r["bytes"]), dtype=np.uint8).reshape(th, tw, 3)
        hh, hw = th // 2, tw // 2
        ds = (img.reshape(hh, 2, hw, 2, 3).astype(np.uint32).sum(axis=(1, 3)) // 4).astype(np.uint8)
        qr, qc = r["row"] % 2, r["col"] % 2
        canvas[qr * hh:(qr + 1) * hh, qc * hw:(qc + 1) * hw] = ds
        want[key][1] = n + 1

    assert set(got) == set(want) and got
    saw_partial = saw_full = False
    for key, (canvas, n) in want.items():
        g = got[key]
        assert g["n_children"] == n, key
        assert bytes(g["bytes"]) == canvas.tobytes(), key
        saw_full |= n == 4
        saw_partial |= n < 4
    assert saw_full and saw_partial  # both quadrant-fill regimes exercised


def test_build_overviews_chain_coverage(spark):
    """Chaining levels halves the address space each step and every parent
    at z-2 is an ancestor of some base tile; the footprint's fully-covered
    interior survives each box-filter level undiluted (a 2x2 block of the
    solid value averages to itself) while edge mixes never exceed it."""
    tp = _tp()
    px = np.full((16, 16, 3), 200, dtype=np.uint8)
    rows = [
        {
            "image_id": "s0", "bytes": bytearray(px.tobytes()),
            "w": 16, "h": 16, "fmt": "raw",
            "fp_left": -80.0, "fp_bottom": 10.0, "fp_right": -60.0, "fp_top": 30.0,
        }
    ]
    base = raster.compose_tiles(spark.createDataFrame(rows), tp, 4)
    levels = raster.build_overviews(base, base_zoom=4, min_zoom=2)
    assert set(levels) == {4, 3, 2}
    base_tiles = {(r["row"], r["col"]) for r in base.collect()}
    for z in (3, 2):
        tiles = levels[z].collect()
        assert {(r["row"], r["col"]) for r in tiles} == {
            (r // 2 ** (4 - z), c // 2 ** (4 - z)) for r, c in base_tiles
        }
        for t in tiles:
            canvas = np.frombuffer(bytes(t["bytes"]), dtype=np.uint8).reshape(
                t["tile_h"], t["tile_w"], 3
            )
            covered = canvas[canvas.sum(axis=2) > 0]
            assert len(covered) > 0
            assert covered.max() == 200  # interior survives undiluted


def test_zonal_stats_matches_numpy_mirror(spark, geodetic):
    """zonal_stats kernel vs a pure-numpy mirror on random 3-band canvases:
    window math rides raster_tile_windows (golden-tested on its own), so
    this pins the slice+reduce Arrow kernel, the partial merge across a
    tile-straddling zone, band selection, and the exact-mean division."""
    from tilematrix_spark import raster

    rng = np.random.default_rng(7)
    tiles_rows = [(r, c) for r in (2, 3) for c in (4, 5)]
    canv = {
        rc: rng.integers(0, 256, size=(256, 256, 3), dtype=np.uint8)
        for rc in tiles_rows
    }
    tiles = spark.createDataFrame(
        [(r, c, 256, 256, bytearray(canv[(r, c)].tobytes())) for r, c in tiles_rows],
        "row long, col long, tile_w int, tile_h int, bytes binary",
    )
    zones = spark.createDataFrame(
        [
            (1, -157.0, 74.0, -156.0, 75.0),  # interior of tile (2, 4)
            (2, -152.5, 74.2, -151.0, 75.9),  # straddles cols 4 and 5
        ],
        "zone_id long, zleft double, zbottom double, zright double, ztop double",
    )
    out = {
        r["zone_id"]: r.asDict()
        for r in raster.zonal_stats(
            tiles, zones, geodetic, 5,
            left="zleft", bottom="zbottom", right="zright", top="ztop", band=1,
        ).collect()
    }
    win = raster.raster_tile_windows(
        zones, geodetic, 5,
        fp_left="zleft", fp_bottom="zbottom", fp_right="zright", fp_top="ztop",
    ).collect()
    exp = {}
    for w in win:
        if w["win_width"] <= 0 or w["win_height"] <= 0:
            continue
        v = canv[(w["row"], w["col"])][
            w["win_row_off"] : w["win_row_off"] + w["win_height"],
            w["win_col_off"] : w["win_col_off"] + w["win_width"],
            1,
        ]
        e = exp.setdefault(
            w["zone_id"], dict(n_tiles=0, n_px=0, sum_val=0, mn=[], mx=[])
        )
        e["n_tiles"] += 1
        e["n_px"] += v.size
        e["sum_val"] += int(v.sum(dtype=np.int64))
        e["mn"].append(int(v.min()))
        e["mx"].append(int(v.max()))
    assert set(out) == set(exp) == {1, 2}
    assert out[2]["n_tiles"] == 2
    for z, e in exp.items():
        o = out[z]
        assert (o["n_tiles"], o["n_px"], o["sum_val"]) == (
            e["n_tiles"], e["n_px"], e["sum_val"],
        )
        assert o["min_val"] == min(e["mn"]) and o["max_val"] == max(e["mx"])
        assert o["mean_val"] == e["sum_val"] / e["n_px"]


def _focal_mirror(canvases, ts, radius, mw, mh):
    """Brute-force global-array focal mirror: place every tile into a global
    (mh*ts, mw*ts) value + mask plane with COLUMN WRAP (pad the x axis by one
    matrix width on each side), then aggregate each pixel's window over
    available pixels only."""
    H, W = mh * ts, mw * ts
    V = np.zeros((H, W), dtype=np.int64)
    M = np.zeros((H, W), dtype=np.int64)
    for (r, c), a in canvases.items():
        V[r * ts : (r + 1) * ts, c * ts : (c + 1) * ts] = a
        M[r * ts : (r + 1) * ts, c * ts : (c + 1) * ts] = 1
    Vw = np.concatenate([V, V, V], axis=1)
    Mw = np.concatenate([M, M, M], axis=1)
    out = {}
    for (r, c) in canvases:
        stats = np.zeros((ts, ts, 5), dtype=np.int64)
        for py in range(ts):
            for px in range(ts):
                gy, gx = r * ts + py, W + c * ts + px
                y0, y1 = max(gy - radius, 0), min(gy + radius + 1, H)
                vs = Vw[y0:y1, gx - radius : gx + radius + 1]
                ms = Mw[y0:y1, gx - radius : gx + radius + 1]
                vals = vs[ms == 1]
                stats[py, px] = (
                    len(vals),
                    vals.sum(),
                    vals.min(),
                    vals.max(),
                    vals.sum() // len(vals),
                )
        out[(r, c)] = stats
    return out


def test_focal_stats_matches_numpy_mirror(spark):
    """Cross-tile halo exchange vs a brute-force global-plane mirror: a 2x2
    block of 16px tiles at z2 geodetic (mw=8, mh=4) with one MISSING corner
    neighbor — interior pixels see true neighbor bytes, block-edge pixels
    see partial windows (n_nbr < (2r+1)^2)."""
    import pandas as pd

    from tilematrix_spark.grid import PyramidConfig

    tp = PyramidConfig.create("geodetic", tile_size=16)
    ts, radius = 16, 2
    rng = np.random.RandomState(7)
    keys = [(1, 2), (1, 3), (2, 2), (2, 3)]
    canvases = {k: rng.randint(0, 256, (ts, ts)).astype(np.uint8) for k in keys}
    rows = [
        {"row": r, "col": c, "tile_w": ts, "tile_h": ts,
         "bytes": canvases[(r, c)].tobytes()}
        for (r, c) in keys
    ]
    tiles = spark.createDataFrame(pd.DataFrame(rows))
    got = (
        raster.focal_stats(tiles, tp, 2, radius=radius, emit="pixels")
        .toPandas()
        .set_index(["row", "col", "py", "px"])
        .sort_index()
    )
    mirror = _focal_mirror(canvases, ts, radius, tp.matrix_width(2), tp.matrix_height(2))
    assert len(got) == len(keys) * ts * ts
    for (r, c), stats in mirror.items():
        sub = got.loc[(r, c)]
        np.testing.assert_array_equal(
            sub[["n_nbr", "sum_nbr", "min_nbr", "max_nbr", "mean_nbr"]]
            .to_numpy()
            .reshape(ts, ts, 5),
            stats,
        )
    # edge pixels genuinely see partial windows; interior sees full 25
    assert got["n_nbr"].min() < (2 * radius + 1) ** 2
    assert got["n_nbr"].max() == (2 * radius + 1) ** 2


def test_focal_stats_wraps_antimeridian(spark):
    """mw=2 at z0 geodetic: the left edge of col 0 must see col 1's right
    edge (column wrap), and the canvas emit carries the truncated mean."""
    import pandas as pd

    from tilematrix_spark.grid import PyramidConfig

    tp = PyramidConfig.create("geodetic", tile_size=8)
    ts, radius = 8, 1
    rng = np.random.RandomState(11)
    canvases = {(0, 0): rng.randint(0, 256, (ts, ts)).astype(np.uint8),
                (0, 1): rng.randint(0, 256, (ts, ts)).astype(np.uint8)}
    rows = [
        {"row": r, "col": c, "tile_w": ts, "tile_h": ts,
         "bytes": canvases[(r, c)].tobytes()}
        for (r, c) in canvases
    ]
    tiles = spark.createDataFrame(pd.DataFrame(rows))
    mirror = _focal_mirror(canvases, ts, radius, 2, 1)
    px_df = (
        raster.focal_stats(tiles, tp, 0, radius=radius, emit="pixels")
        .toPandas()
        .set_index(["row", "col", "py", "px"])
        .sort_index()
    )
    for (r, c), stats in mirror.items():
        np.testing.assert_array_equal(
            px_df.loc[(r, c)][["n_nbr", "sum_nbr", "min_nbr", "max_nbr", "mean_nbr"]]
            .to_numpy()
            .reshape(ts, ts, 5),
            stats,
        )
    # wrap actually fired: row 0 of col 0 at px=0 has full horizontal window
    assert px_df.loc[(0, 0, ts // 2, 0), "n_nbr"] == 9
    cv = (
        raster.focal_stats(tiles, tp, 0, radius=radius, emit="canvas")
        .toPandas()
        .set_index(["row", "col"])
    )
    for (r, c), stats in mirror.items():
        want = stats[:, :, 4].astype(np.uint8)
        gotb = np.frombuffer(cv.loc[(r, c), "bytes"], dtype=np.uint8).reshape(ts, ts)
        np.testing.assert_array_equal(gotb, want)


def test_focal_gradient_matches_numpy_mirror(spark):
    """Sobel gradient vs a brute-force global-plane mirror on a 2x2 block
    with cross-tile windows: integer gx/gy/mag2 exact, window-incomplete
    pixels dropped from the pixel emit and zeroed in the canvas emit."""
    import pandas as pd

    from tilematrix_spark.grid import PyramidConfig

    tp = PyramidConfig.create("geodetic", tile_size=16)
    ts = 16
    rng = np.random.RandomState(3)
    keys = [(1, 2), (1, 3), (2, 2), (2, 3)]
    canvases = {k: rng.randint(0, 256, (ts, ts)).astype(np.uint8) for k in keys}
    rows = [
        {"row": r, "col": c, "tile_w": ts, "tile_h": ts,
         "bytes": canvases[(r, c)].tobytes()}
        for (r, c) in keys
    ]
    tiles = spark.createDataFrame(pd.DataFrame(rows))
    got = (
        raster.focal_gradient(tiles, tp, 2, emit="pixels")
        .toPandas()
        .set_index(["row", "col", "py", "px"])
        .sort_index()
    )
    # global plane: rows 1-2, cols 2-3 (interior of mw=8/mh=4 at z2 — no wrap)
    G = np.zeros((4 * ts, 8 * ts), dtype=np.int64)
    Mk = np.zeros_like(G)
    for (r, c), a in canvases.items():
        G[r * ts : (r + 1) * ts, c * ts : (c + 1) * ts] = a
        Mk[r * ts : (r + 1) * ts, c * ts : (c + 1) * ts] = 1
    n_checked = 0
    for (r, c) in keys:
        for py in range(ts):
            for px in range(ts):
                gy_, gx_ = r * ts + py, c * ts + px
                w = G[gy_ - 1 : gy_ + 2, gx_ - 1 : gx_ + 2]
                mk = Mk[gy_ - 1 : gy_ + 2, gx_ - 1 : gx_ + 2]
                idx = (r, c, py, px)
                if mk.sum() < 9 or gy_ == 0:
                    assert idx not in got.index
                    continue
                want_gx = int(w[0, 2] + 2 * w[1, 2] + w[2, 2]
                              - w[0, 0] - 2 * w[1, 0] - w[2, 0])
                want_gy = int(w[2, 0] + 2 * w[2, 1] + w[2, 2]
                              - w[0, 0] - 2 * w[0, 1] - w[0, 2])
                row = got.loc[idx]
                assert row["gx_num"] == want_gx and row["gy_num"] == want_gy
                assert row["mag2"] == want_gx**2 + want_gy**2
                n_checked += 1
    assert n_checked == len(got) > 3 * ts * ts  # interior pixels survived
    cv = (
        raster.focal_gradient(tiles, tp, 2, emit="canvas")
        .toPandas()
        .set_index(["row", "col"])
    )
    a = np.frombuffer(cv.loc[(1, 2), "bytes"], dtype=np.uint8).reshape(ts, ts)
    assert a[0, 0] == 0  # window-incomplete corner zeroed
    iy, ix = 5, ts - 1  # right edge of (1,2): window crosses into (1,3)
    gy_, gx_ = 1 * ts + iy, 2 * ts + ix
    w = G[gy_ - 1 : gy_ + 2, gx_ - 1 : gx_ + 2]
    egx = int(w[0, 2] + 2 * w[1, 2] + w[2, 2] - w[0, 0] - 2 * w[1, 0] - w[2, 0])
    egy = int(w[2, 0] + 2 * w[2, 1] + w[2, 2] - w[0, 0] - 2 * w[0, 1] - w[0, 2])
    assert a[iy, ix] == min((abs(egx) + 2) // 4 + (abs(egy) + 2) // 4, 255)


def _upsample_mirror(canvases, ts, mh_tiles, mw_tiles, r0, c0):
    """Brute-force 2x bilinear mirror on a stitched global plane covering
    the rectangular block rows [r0, r0+mh_tiles) x cols [c0, c0+mw_tiles),
    with per-axis coordinate CLAMP at the block edge (the operator's
    separable edge-replicate rule).  Returns {(crow, ccol): (num, val)}."""
    H, W = mh_tiles * ts, mw_tiles * ts
    G = np.zeros((H, W), dtype=np.int64)
    for (r, c), a in canvases.items():
        G[(r - r0) * ts : (r - r0 + 1) * ts, (c - c0) * ts : (c - c0 + 1) * ts] = a
    out = {}
    for (r, c) in canvases:
        for dy in (0, 1):
            for dx in (0, 1):
                num = np.zeros((ts, ts), dtype=np.int64)
                for i in range(ts):
                    for j in range(ts):
                        cy = 2 * (r - r0) * ts + dy * ts + i
                        cx = 2 * (c - c0) * ts + dx * ts + j
                        ky0 = cy // 2 - 1 if cy % 2 == 0 else cy // 2
                        wy0 = 1 if cy % 2 == 0 else 3
                        kx0 = cx // 2 - 1 if cx % 2 == 0 else cx // 2
                        wx0 = 1 if cx % 2 == 0 else 3
                        s = 0
                        for iy, wy in ((0, wy0), (1, 4 - wy0)):
                            for ix, wx in ((0, wx0), (1, 4 - wx0)):
                                gy = min(max(ky0 + iy, 0), H - 1)
                                gx = min(max(kx0 + ix, 0), W - 1)
                                s += wy * wx * int(G[gy, gx])
                        num[i, j] = s
                out[(2 * r + dy, 2 * c + dx)] = (num, (num + 8) // 16)
    return out


def test_upsample_children_matches_numpy_mirror(spark):
    """2x bilinear overzoom vs a brute-force global-plane mirror on a 2x2
    block of 8px tiles: cross-tile seam pixels read the true neighbor bytes
    via the halo, block-edge pixels follow the separable clamp rule, and
    num == 16x exact numerator with val == (num+8)//16."""
    import pandas as pd

    from tilematrix_spark.grid import PyramidConfig

    tp = PyramidConfig.create("geodetic", tile_size=8)
    ts = 8
    rng = np.random.RandomState(19)
    keys = [(1, 2), (1, 3), (2, 2), (2, 3)]
    canvases = {k: rng.randint(0, 256, (ts, ts)).astype(np.uint8) for k in keys}
    rows = [
        {"row": r, "col": c, "tile_w": ts, "tile_h": ts,
         "bytes": canvases[(r, c)].tobytes()}
        for (r, c) in keys
    ]
    tiles = spark.createDataFrame(pd.DataFrame(rows))
    mirror = _upsample_mirror(canvases, ts, 2, 2, 1, 2)
    got = (
        raster.upsample_children(tiles, tp, 2, emit="pixels")
        .toPandas()
        .set_index(["row", "col", "py", "px"])
        .sort_index()
    )
    assert len(got) == 4 * len(keys) * ts * ts
    for (crow, ccol), (num, val) in mirror.items():
        sub = got.loc[(crow, ccol)]
        np.testing.assert_array_equal(
            sub["num"].to_numpy().reshape(ts, ts), num
        )
        np.testing.assert_array_equal(
            sub["val"].to_numpy().reshape(ts, ts), val
        )
    # seam check: odd child pixel straddling the (1,2)|(1,3) vertical seam
    # must blend bytes from BOTH parent tiles (weight 3 on (1,2), 1 on (1,3))
    a, b = canvases[(1, 2)], canvases[(1, 3)]
    cy = 2 * 0 * ts + 3  # arbitrary interior child row within (2, 4)-block
    # child global x of the last odd pixel of child col block dx=1 of (1,2)
    num_seam = mirror[(2, 5)][0][3, ts - 1]
    ky = cy // 2
    wy0 = 1 if cy % 2 == 0 else 3
    y0 = ky - 1 if cy % 2 == 0 else ky
    want = 0
    for iy, wy in ((0, wy0), (1, 4 - wy0)):
        want += wy * (3 * int(a[y0 + iy, ts - 1]) + 1 * int(b[y0 + iy, 0]))
    assert num_seam == want
    # canvas emit consistent with the pixel emit
    cv = (
        raster.upsample_children(tiles, tp, 2, emit="canvas")
        .toPandas()
        .set_index(["row", "col"])
    )
    assert len(cv) == 4 * len(keys)
    for (crow, ccol), (_, val) in mirror.items():
        gotb = np.frombuffer(cv.loc[(crow, ccol), "bytes"], dtype=np.uint8)
        np.testing.assert_array_equal(
            gotb.reshape(ts, ts), val.astype(np.uint8)
        )


def test_upsample_children_wraps_antimeridian(spark):
    """mw=2 at z0 geodetic: child pixels on the left seam of col 0 must
    blend with col 1's right edge (column wrap), not clamp."""
    import pandas as pd

    from tilematrix_spark.grid import PyramidConfig

    tp = PyramidConfig.create("geodetic", tile_size=8)
    ts = 8
    rng = np.random.RandomState(23)
    a = rng.randint(0, 256, (ts, ts)).astype(np.uint8)
    b = rng.randint(0, 256, (ts, ts)).astype(np.uint8)
    tiles = spark.createDataFrame(
        pd.DataFrame(
            [
                {"row": 0, "col": 0, "tile_w": ts, "tile_h": ts, "bytes": a.tobytes()},
                {"row": 0, "col": 1, "tile_w": ts, "tile_h": ts, "bytes": b.tobytes()},
            ]
        )
    )
    got = (
        raster.upsample_children(tiles, tp, 0, emit="pixels")
        .toPandas()
        .set_index(["row", "col", "py", "px"])
        .sort_index()
    )
    # child (0, 0), pixel (py=2, px=0): cx=0 even -> parents kx0=-1 (wraps
    # to col 1's last column), kx1=0, weights 1/3; cy=2 even -> ky0=0, ky1=1
    # (row clamp at the matrix top does not fire for ky>=0)
    num = got.loc[(0, 0, 2, 0), "num"]
    want = 0
    for iy, wy in ((0, 1), (1, 3)):
        want += wy * (1 * int(b[iy, ts - 1]) + 3 * int(a[iy, 0]))
    assert num == want


def test_contrast_stretch_matches_numpy_mirror(spark):
    """Two-pass percentile stretch vs a pure-numpy mirror: global histogram,
    integer ceil-rank cut points, and the exact truncating remap — pixels
    and canvas emits agree with the mirror bit-for-bit."""
    import pandas as pd

    ts = 16
    rng = np.random.RandomState(31)
    keys = [(0, 0), (0, 1), (1, 0)]
    # skewed values so p2/p98 are interior
    canvases = {
        k: (rng.gamma(2.0, 20.0, (ts, ts)).clip(0, 255)).astype(np.uint8)
        for k in keys
    }
    rows = [
        {"row": r, "col": c, "tile_w": ts, "tile_h": ts,
         "bytes": canvases[(r, c)].tobytes()}
        for (r, c) in keys
    ]
    tiles = spark.createDataFrame(pd.DataFrame(rows))
    allv = np.concatenate([a.ravel() for a in canvases.values()])
    hist = np.bincount(allv, minlength=256)
    got_h = (
        raster.global_histogram(tiles).toPandas().set_index("val")["n_px"]
    )
    for v in range(256):
        assert got_h.get(v, 0) == hist[v]
    total = len(allv)
    cuts = []
    for q in (2, 98):
        need = -((-q * total) // 100)
        cum = np.cumsum(hist)
        cuts.append(int(np.argmax(cum >= need)))
    p_lo, p_hi = cuts
    assert (p_lo, p_hi) == raster.stretch_percentiles(tiles, 0, 2, 98)
    span = p_hi - p_lo
    assert span > 0
    got = (
        raster.contrast_stretch(tiles, emit="pixels")
        .toPandas()
        .set_index(["row", "col", "py", "px"])
        .sort_index()
    )
    assert len(got) == total
    for (r, c), a in canvases.items():
        sub = got.loc[(r, c)]
        want = np.clip((a.astype(np.int64) - p_lo) * 255 // span, 0, 255)
        np.testing.assert_array_equal(
            sub["v_in"].to_numpy().reshape(ts, ts), a
        )
        np.testing.assert_array_equal(
            sub["v_out"].to_numpy().reshape(ts, ts), want
        )
    cv = (
        raster.contrast_stretch(tiles, emit="canvas")
        .toPandas()
        .set_index(["row", "col"])
    )
    for (r, c), a in canvases.items():
        want = np.clip((a.astype(np.int64) - p_lo) * 255 // span, 0, 255)
        gotb = np.frombuffer(cv.loc[(r, c), "bytes"], dtype=np.uint8)
        np.testing.assert_array_equal(gotb.reshape(ts, ts), want)


def test_contrast_stretch_degenerate_span(spark):
    """Constant raster: p_lo == p_hi, remap falls back to the >= p_hi
    threshold (all 255 here since every pixel equals the cut)."""
    import pandas as pd

    ts = 8
    a = np.full((ts, ts), 77, dtype=np.uint8)
    tiles = spark.createDataFrame(
        pd.DataFrame(
            [{"row": 0, "col": 0, "tile_w": ts, "tile_h": ts,
              "bytes": a.tobytes()}]
        )
    )
    assert raster.stretch_percentiles(tiles) == (77, 77)
    got = raster.contrast_stretch(tiles, emit="pixels").toPandas()
    assert (got["v_out"] == 255).all()


def test_diff_tiles_matches_numpy_mirror(spark):
    """Change detection vs a numpy mirror: per-tile |delta| stats exact,
    inner join drops epoch-unmatched tiles, band selection works on
    multiband canvases."""
    import pandas as pd

    ts = 16
    rng = np.random.RandomState(41)
    keys = [(0, 0), (0, 1), (1, 1)]
    ep_a = {k: rng.randint(0, 256, (ts, ts, 2)).astype(np.uint8) for k in keys}
    ep_b = {k: rng.randint(0, 256, (ts, ts, 2)).astype(np.uint8) for k in keys}
    # one identical tile: zero diff
    ep_b[(0, 1)] = ep_a[(0, 1)].copy()
    rows_a = [
        {"row": r, "col": c, "tile_w": ts, "tile_h": ts,
         "bytes": ep_a[(r, c)].tobytes()}
        for (r, c) in keys
    ]
    # epoch b misses (1,1) and has an extra tile (9,9) — both must drop
    rows_b = [
        {"row": r, "col": c, "tile_w": ts, "tile_h": ts,
         "bytes": ep_b[(r, c)].tobytes()}
        for (r, c) in keys[:2]
    ] + [{"row": 9, "col": 9, "tile_w": ts, "tile_h": ts,
          "bytes": ep_b[(0, 0)].tobytes()}]
    ta = spark.createDataFrame(pd.DataFrame(rows_a))
    tb = spark.createDataFrame(pd.DataFrame(rows_b))
    got = (
        raster.diff_tiles(ta, tb, band=1)
        .toPandas()
        .set_index(["row", "col"])
        .sort_index()
    )
    assert set(got.index) == {(0, 0), (0, 1)}
    for k in [(0, 0), (0, 1)]:
        d = np.abs(
            ep_a[k][:, :, 1].astype(np.int64) - ep_b[k][:, :, 1].astype(np.int64)
        )
        sub = got.loc[k]
        assert sub["n_px"] == ts * ts
        assert sub["n_diff"] == int(np.count_nonzero(d))
        assert sub["sum_abs"] == int(d.sum())
        assert sub["max_abs"] == int(d.max())
    assert got.loc[(0, 1), "n_diff"] == 0 and got.loc[(0, 1), "sum_abs"] == 0


@pytest.mark.parametrize("case", ["band_-1", "short_canvas"])
@pytest.mark.parametrize(
    "op",
    ["focal_stats", "global_histogram", "diff_tiles", "label_components",
     "zonal_stats"],
)
def test_band_decode_rejects_bad_band_or_canvas(spark, op, case):
    """Every band reader decodes through one check: band -1 on a 3-band
    canvas (which used to read the last band) and a canvas one byte short
    of h*w*B both raise instead of returning values."""
    from tilematrix_spark.grid import PyramidConfig

    tp = PyramidConfig.create("geodetic", tile_size=8)
    n = 8 * 8 * 3 - (1 if case == "short_canvas" else 0)
    band = -1 if case == "band_-1" else 0
    tiles = spark.createDataFrame(
        [(0, 0, 8, 8, bytearray(n))],
        "row long, col long, tile_w int, tile_h int, bytes binary",
    )
    zones = spark.createDataFrame(
        [(1, -170.0, 10.0, -100.0, 80.0)],
        "zone_id long, left double, bottom double, right double, top double",
    )
    run = {
        "focal_stats": lambda: raster.focal_stats(tiles, tp, 1, band=band),
        "global_histogram": lambda: raster.global_histogram(tiles, band=band),
        "diff_tiles": lambda: raster.diff_tiles(tiles, tiles, band=band),
        "label_components": lambda: raster.label_components(tiles, band=band),
        "zonal_stats": lambda: raster.zonal_stats(tiles, zones, tp, 1, band=band),
    }[op]
    bad = r"ValueError: canvas of \d+ bytes is not 8x8xB"
    with pytest.raises(Exception, match=bad):
        run().collect()


def test_pyramid_audit_flags_exactly_the_stale_parents(spark):
    """The audit composition (diff_tiles(parents, overview_level(children),
    band=None)) reports ok=1 for precisely the planted-correct parents and
    nonzero mismatch stats for every stale one."""
    import __spark_entry__ as m

    got = m.q_pyramid_audit(spark, "/root/testdata/sf0.001").toPandas()
    assert len(got) == 72
    assert (got["n_px"] == 64 * 64 * 3).all()
    ok_keys = {
        (int(r), int(c))
        for r, c in got.loc[got["ok"] == 1, ["tile_row", "tile_col"]].itertuples(
            index=False
        )
    }
    want = {
        (r, c)
        for r in range(8, 14)
        for c in range(16, 28)
        if (r + c) % 3 == 0
    }
    assert ok_keys == want
    stale = got[got["ok"] == 0]
    assert (stale["n_diff"] > 0).all() and (stale["max_abs"] > 0).all()
    assert (got.loc[got["ok"] == 1, "sum_abs"] == 0).all()


def test_hillshade_matches_numpy_mirror(spark):
    """Horn hillshade vs a brute-force global-plane mirror on a 2x2 block
    with cross-tile windows: dot/den2 integer-exact, hs bit-identical to
    the independent numpy computation (one sqrt + one division over exact
    integers), window-incomplete pixels dropped from the pixel emit and
    zeroed in the canvas emit (GDAL 1..255 range elsewhere)."""
    import pandas as pd

    from tilematrix_spark.grid import PyramidConfig

    tp = PyramidConfig.create("geodetic", tile_size=16)
    ts = 16
    lx, ly, lz, nz = -5, -5, 7, 512
    l2 = lx * lx + ly * ly + lz * lz
    rng = np.random.RandomState(7)
    keys = [(1, 2), (1, 3), (2, 2), (2, 3)]
    canvases = {k: rng.randint(0, 256, (ts, ts)).astype(np.uint8) for k in keys}
    rows = [
        {"row": r, "col": c, "tile_w": ts, "tile_h": ts,
         "bytes": canvases[(r, c)].tobytes()}
        for (r, c) in keys
    ]
    tiles = spark.createDataFrame(pd.DataFrame(rows))
    got = (
        raster.hillshade(tiles, tp, 2, emit="pixels")
        .toPandas()
        .set_index(["row", "col", "py", "px"])
        .sort_index()
    )
    G = np.zeros((4 * ts, 8 * ts), dtype=np.int64)
    Mk = np.zeros_like(G)
    for (r, c), a in canvases.items():
        G[r * ts : (r + 1) * ts, c * ts : (c + 1) * ts] = a
        Mk[r * ts : (r + 1) * ts, c * ts : (c + 1) * ts] = 1
    n_checked = 0
    for (r, c) in keys:
        for py in range(ts):
            for px in range(ts):
                gy_, gx_ = r * ts + py, c * ts + px
                w = G[gy_ - 1 : gy_ + 2, gx_ - 1 : gx_ + 2]
                mk = Mk[gy_ - 1 : gy_ + 2, gx_ - 1 : gx_ + 2]
                idx = (r, c, py, px)
                if mk.sum() < 9 or gy_ == 0:
                    assert idx not in got.index
                    continue
                gx = int(w[0, 2] + 2 * w[1, 2] + w[2, 2]
                         - w[0, 0] - 2 * w[1, 0] - w[2, 0])
                gy = int(w[2, 0] + 2 * w[2, 1] + w[2, 2]
                         - w[0, 0] - 2 * w[0, 1] - w[0, 2])
                dot = -lx * gx - ly * gy + lz * nz
                den2 = l2 * (gx * gx + gy * gy + nz * nz)
                row = got.loc[idx]
                assert row["dot"] == dot and row["den2"] == den2
                # bit-identical, not allclose: exact ints -> one sqrt,
                # one division, both correctly rounded
                assert row["hs"] == dot / np.sqrt(float(den2))
                n_checked += 1
    assert n_checked == len(got) > 3 * ts * ts
    cv = (
        raster.hillshade(tiles, tp, 2, emit="canvas")
        .toPandas()
        .set_index(["row", "col"])
    )
    a = np.frombuffer(cv.loc[(1, 2), "bytes"], dtype=np.uint8).reshape(ts, ts)
    assert a[0, 0] == 0  # window-incomplete corner reserved as 0
    iy, ix = 5, ts - 1  # right edge of (1,2): window crosses into (1,3)
    hs = got.loc[(1, 2, iy, ix), "hs"]
    assert a[iy, ix] == int(254.0 * max(hs, 0.0)) + 1
    interior = a[1:-1, 1:-1]
    assert interior.min() >= 1  # full-window pixels carry the 1..255 range


def _cc_mirror(canvases, ts, thr):
    """Brute-force global-plane 4-connected components via BFS; returns
    {component_id: (area, min_gy, min_gx, max_gy, max_gx, n_tiles)} with
    component_id = min (gy << 32 | gx) over members."""
    from collections import deque

    maxr = max(r for r, _ in canvases) + 1
    maxc = max(c for _, c in canvases) + 1
    H, W = maxr * ts, maxc * ts
    M = np.zeros((H, W), bool)
    P = np.zeros((H, W), bool)  # pixel present (tile exists)
    for (r, c), a in canvases.items():
        M[r * ts : (r + 1) * ts, c * ts : (c + 1) * ts] = a >= thr
        P[r * ts : (r + 1) * ts, c * ts : (c + 1) * ts] = True
    seen = np.zeros_like(M)
    out = {}
    for sy, sx in zip(*np.nonzero(M)):
        if seen[sy, sx]:
            continue
        q = deque([(int(sy), int(sx))])
        seen[sy, sx] = True
        mem = []
        while q:
            y, x = q.popleft()
            mem.append((y, x))
            for dy, dx in ((1, 0), (-1, 0), (0, 1), (0, -1)):
                ny, nx = y + dy, x + dx
                if 0 <= ny < H and 0 <= nx < W and P[ny, nx] and M[ny, nx] and not seen[ny, nx]:
                    seen[ny, nx] = True
                    q.append((ny, nx))
        ys = [y for y, _ in mem]
        xs = [x for _, x in mem]
        cid = min((y << 32) | x for y, x in mem)
        tiles = {(y // ts, x // ts) for y, x in mem}
        mset = set(mem)
        pairs = sum(
            ((y + 1, x) in mset) + ((y, x + 1) in mset) for y, x in mem
        )
        out[cid] = (
            len(mem), min(ys), min(xs), max(ys), max(xs), len(tiles),
            4 * len(mem) - 2 * pairs,
        )
    return out


def test_label_components_matches_global_bfs(spark, monkeypatch):
    """Cross-tile connected-component labeling vs a brute-force global BFS
    mirror: random foreground over a 3x3 block of 6px tiles (components
    freely crossing tile edges), plus planted shapes on a 2x2 block —
    a 4x4 square straddling all four tiles, a cross-edge domino, a
    single pixel, an L inside one tile, and a diagonal-only pair that must
    NOT merge (4-connectivity)."""
    import pandas as pd

    from tilematrix_spark.functions import dedup

    # planted 2x2 x 8px case
    ts = 8
    cv = {k: np.zeros((ts, ts), np.uint8) for k in [(0, 0), (0, 1), (1, 0), (1, 1)]}
    for gy in range(6, 10):
        for gx in range(6, 10):
            cv[(gy // ts, gx // ts)][gy % ts, gx % ts] = 255  # 4x4, 4 tiles
    cv[(0, 0)][0, 0] = 255  # lone pixel
    cv[(0, 0)][2, 7] = 255
    cv[(0, 1)][2, 0] = 255  # domino across the vertical edge
    for gy, gx in ((12, 12), (13, 12), (13, 13)):
        cv[(1, 1)][gy % ts, gx % ts] = 255  # L inside one tile
    cv[(0, 0)][4, 2] = 255
    cv[(0, 0)][5, 3] = 255  # diagonal-only: two separate components
    for canvases, tsz in [
        (cv, ts),
        (
            {
                (r, c): (np.random.RandomState(31 * r + c).rand(6, 6) < 0.35)
                .astype(np.uint8) * 200
                for r in range(3)
                for c in range(3)
            },
            6,
        ),
    ]:
        rows = [
            {"row": r, "col": c, "tile_w": tsz, "tile_h": tsz,
             "bytes": canvases[(r, c)].tobytes()}
            for (r, c) in canvases
        ]
        tiles = spark.createDataFrame(pd.DataFrame(rows))
        got = {
            r["component"]: (
                r["area"], r["min_gy"], r["min_gx"], r["max_gy"],
                r["max_gx"], r["n_tiles"], r["perimeter"],
            )
            for r in raster.label_components(tiles, threshold=128).collect()
        }
        assert got == _cc_mirror(canvases, tsz, 128)
    # both merge paths must agree exactly (min-gid labeling is path-free)
    tiles = spark.createDataFrame(
        pd.DataFrame(
            [
                {"row": r, "col": c, "tile_w": 8, "tile_h": 8,
                 "bytes": cv[(r, c)].tobytes()}
                for (r, c) in cv
            ]
        )
    )
    drv = raster.label_components(tiles, threshold=128)
    monkeypatch.setattr(dedup, "DRIVER_CC_MAX_EDGES", 0)
    dst = raster.label_components(tiles, threshold=128)
    assert drv.exceptAll(dst).isEmpty() and dst.exceptAll(drv).isEmpty()
    # spot-check the planted shapes in the first corpus (perimeter: 4x4
    # square -> 16; lone pixel -> 4; cross-edge domino -> 6; 3-px L -> 8)
    mirror = _cc_mirror(cv, ts, 128)
    assert mirror[(6 << 32) | 6] == (16, 6, 6, 9, 9, 4, 16)
    assert mirror[0] == (1, 0, 0, 0, 0, 1, 4)
    assert mirror[(2 << 32) | 7] == (2, 2, 7, 2, 8, 2, 6)
    assert mirror[(4 << 32) | 2] == (1, 4, 2, 4, 2, 1, 4)  # no diagonal merge


def test_label_components_rejects_id_overflow(spark):
    """The component id packs gy*2^32 + gx: a tile whose pixels reach
    gx >= 2^32 raises instead of aliasing ids; an in-range tile labels."""
    import pandas as pd

    a = np.zeros((256, 256), np.uint8)
    a[0, 0] = 255

    def tiles(col):
        return spark.createDataFrame(
            pd.DataFrame(
                [{"row": 0, "col": col, "tile_w": 256, "tile_h": 256,
                  "bytes": a.tobytes()}]
            )
        )

    with pytest.raises(Exception, match="component id packing"):
        raster.label_components(tiles(2**24)).collect()
    got = raster.label_components(tiles(2**24 - 1)).collect()
    assert [(r["component"], r["area"]) for r in got] == [((2**24 - 1) * 256, 1)]


def test_label_components_is_grid_flat_at_antimeridian(spark, geodetic):
    """Columns do not wrap: on geodetic z1 (4 columns), foreground touching
    the west edge of col 0 and the east edge of the last col — one region
    across the antimeridian — keeps two labels."""
    import pandas as pd

    ts = 8
    last = geodetic.matrix_width(1) - 1
    a = np.zeros((ts, ts), np.uint8)
    b = np.zeros((ts, ts), np.uint8)
    a[3, :3] = 255  # gx 0..2, touching the west grid edge
    b[3, ts - 3:] = 255  # the last 3 px, touching the east grid edge
    tiles = spark.createDataFrame(
        pd.DataFrame(
            [
                {"row": 0, "col": c, "tile_w": ts, "tile_h": ts, "bytes": v.tobytes()}
                for c, v in ((0, a), (last, b))
            ]
        )
    )
    got = sorted(
        (r["component"], r["area"], r["n_tiles"])
        for r in raster.label_components(tiles).collect()
    )
    gx_east = last * ts + ts - 3
    assert got == [((3 << 32) | 0, 3, 1), ((3 << 32) | gx_east, 3, 1)]


def test_zonal_class_counts_marginalizes_to_zonal_stats(spark, geodetic):
    """The class histogram must marginalize exactly to the moment stats on
    the same canvases/zones/band: Σ_class n = n_px, Σ class·n = sum_val,
    min/max present class = min_val/max_val — plus a direct numpy bincount
    check on an interior single-tile zone."""
    from tilematrix_spark import raster

    rng = np.random.default_rng(11)
    tiles_rows = [(r, c) for r in (2, 3) for c in (4, 5)]
    canv = {
        rc: rng.integers(0, 40, size=(256, 256, 3), dtype=np.uint8)
        for rc in tiles_rows
    }
    tiles = spark.createDataFrame(
        [(r, c, 256, 256, bytearray(canv[(r, c)].tobytes())) for r, c in tiles_rows],
        "row long, col long, tile_w int, tile_h int, bytes binary",
    )
    zones = spark.createDataFrame(
        [
            (1, -157.0, 74.0, -156.0, 75.0),
            (2, -152.5, 74.2, -151.0, 75.9),  # straddles two tiles
        ],
        "zone_id long, zleft double, zbottom double, zright double, ztop double",
    )
    kw = dict(left="zleft", bottom="zbottom", right="zright", top="ztop", band=1)
    hist = raster.zonal_class_counts(tiles, zones, geodetic, 5, **kw).collect()
    stats = {
        r["zone_id"]: r.asDict()
        for r in raster.zonal_stats(tiles, zones, geodetic, 5, **kw).collect()
    }
    per_zone = {}
    for r in hist:
        per_zone.setdefault(r["zone_id"], {})[r["class"]] = r["n_px"]
    assert set(per_zone) == set(stats)
    for zid, cc in per_zone.items():
        st = stats[zid]
        assert sum(cc.values()) == st["n_px"]
        assert sum(k * v for k, v in cc.items()) == st["sum_val"]
        assert (min(cc), max(cc)) == (st["min_val"], st["max_val"])
    # direct bincount for the interior zone
    win = [
        w
        for w in raster.raster_tile_windows(
            zones, geodetic, 5, fp_left="zleft", fp_bottom="zbottom",
            fp_right="zright", fp_top="ztop",
        ).collect()
        if w["zone_id"] == 1 and w["win_width"] > 0 and w["win_height"] > 0
    ]
    assert len(win) == 1
    w = win[0]
    v = canv[(w["row"], w["col"])][
        w["win_row_off"] : w["win_row_off"] + w["win_height"],
        w["win_col_off"] : w["win_col_off"] + w["win_width"],
        1,
    ]
    bc = np.bincount(v.ravel(), minlength=256)
    assert per_zone[1] == {int(k): int(bc[k]) for k in np.nonzero(bc)[0]}


def test_zonal_poly_stats_matches_pixel_mirror(spark, geodetic):
    """Polygonal zonal stats vs a brute-force per-pixel-center mirror:
    a diamond straddling two tiles and a triangle inside one, over random
    3-band canvases — the mask must match the half-plane test exactly
    (boundary inclusive), stats must aggregate across the tile straddle,
    and the polygon must exclude bbox corners (diamond n_px < bbox n_px)."""
    from tilematrix_spark import raster

    rng = np.random.default_rng(5)
    keys = [(2, 4), (2, 5)]
    canv = {
        rc: rng.integers(0, 256, size=(256, 256, 3), dtype=np.uint8)
        for rc in keys
    }
    tiles = spark.createDataFrame(
        [(r, c, 256, 256, bytearray(canv[(r, c)].tobytes())) for r, c in keys],
        "row long, col long, tile_w int, tile_h int, bytes binary",
    )
    # tile (2,4): x [-157.5, -151.875], y [73.125, 78.75] at z5 geodetic
    diamond = (  # centered on the tile boundary x = -151.875
        [-150.875, -151.875, -152.875, -151.875],
        [75.0, 76.0, 75.0, 74.0],
    )
    triangle = ([-156.9, -155.9, -156.9], [74.0, 74.0, 75.0])
    zones = spark.createDataFrame(
        [(1, *diamond), (2, *triangle)],
        "zone_id long, poly_x array<double>, poly_y array<double>",
    )
    got = {
        r["zone_id"]: r.asDict()
        for r in raster.zonal_poly_stats(
            tiles, zones, geodetic, 5, band=2
        ).collect()
    }
    px = geodetic.pixel_x_size(5)
    tsx = geodetic.tile_x_size(5)
    for zid, (rx, ry) in ((1, diamond), (2, triangle)):
        vals = []
        ntiles = 0
        for (r, c), a in canv.items():
            tl = geodetic.left + c * tsx
            tt = geodetic.top - r * tsx
            cx = tl + (np.arange(256) + 0.5) * px
            cy = tt - (np.arange(256) + 0.5) * px
            mask = np.ones((256, 256), bool)
            for e in range(len(rx)):
                x1, y1 = rx[e], ry[e]
                x2, y2 = rx[(e + 1) % len(rx)], ry[(e + 1) % len(ry)]
                mask &= (x2 - x1) * (cy[:, None] - y1) - (y2 - y1) * (
                    cx[None, :] - x1
                ) >= 0.0
            if mask.any():
                ntiles += 1
                vals.append(a[:, :, 2][mask])
        vals = np.concatenate(vals)
        g = got[zid]
        assert g["n_tiles"] == ntiles
        assert g["n_px"] == len(vals)
        assert g["sum_val"] == int(vals.sum(dtype=np.int64))
        assert (g["min_val"], g["max_val"]) == (int(vals.min()), int(vals.max()))
        assert g["mean_val"] == float(vals.sum(dtype=np.int64)) / len(vals)
    assert got[1]["n_tiles"] == 2  # the diamond really straddles
    # diamond area ~ half its bbox: the polygon mask genuinely excludes
    bbox_px = (2.0 / px) * (2.0 / px)
    assert got[1]["n_px"] < 0.6 * bbox_px


def test_zonal_poly_stats_ring_orientation_free(spark, geodetic):
    """A clockwise ring masks the same pixels as its counter-clockwise
    twin: the ray-cast mask has no orientation."""
    from tilematrix_spark import raster

    a = np.random.default_rng(3).integers(0, 256, size=(256, 256), dtype=np.uint8)
    tiles = spark.createDataFrame(
        [(2, 4, 256, 256, bytearray(a.tobytes()))],
        "row long, col long, tile_w int, tile_h int, bytes binary",
    )
    ccw = ([-156.9, -155.9, -156.9], [74.0, 74.0, 75.0])
    cw = (ccw[0][::-1], ccw[1][::-1])
    zones = spark.createDataFrame(
        [(1, *ccw), (2, *cw)], "zone_id long, poly_x array<double>, poly_y array<double>"
    )
    got = {
        r["zone_id"]: r.asDict()
        for r in raster.zonal_poly_stats(tiles, zones, geodetic, 5).collect()
    }
    assert got[1]["n_px"] > 0
    assert {**got[2], "zone_id": 1} == got[1]


def test_zonal_poly_stats_concave_l_ring(spark, geodetic):
    """An axis-aligned L (a reflex vertex, straddling two tiles) masks
    exactly the pixel centres inside its two rectangles.  Every edge sits
    a quarter pixel off the centres, so the reference needs no boundary
    rule."""
    from tilematrix_spark import raster

    rng = np.random.default_rng(13)
    keys = [(2, 4), (2, 5)]
    canv = {rc: rng.integers(0, 256, size=(256, 256), dtype=np.uint8) for rc in keys}
    tiles = spark.createDataFrame(
        [(r, c, 256, 256, bytearray(canv[(r, c)].tobytes())) for r, c in keys],
        "row long, col long, tile_w int, tile_h int, bytes binary",
    )
    px = geodetic.pixel_x_size(5)
    tsx = geodetic.tile_x_size(5)
    tl, tt = geodetic.left + 4 * tsx, geodetic.top - 2 * tsx  # tile (2, 4)
    x0, x1, x2 = (tl + k * px for k in (200.25, 240.75, 300.25))
    y0, y1, y2 = (tt - k * px for k in (120.75, 90.25, 40.25))
    ell = ([x0, x2, x2, x1, x1, x0], [y0, y0, y1, y1, y2, y2])
    zones = spark.createDataFrame(
        [(1, *ell)], "zone_id long, poly_x array<double>, poly_y array<double>"
    )
    g = raster.zonal_poly_stats(tiles, zones, geodetic, 5).collect()[0]
    vals, ntiles = [], 0
    for (r, c), a in canv.items():
        cx = (geodetic.left + c * tsx + (np.arange(256) + 0.5) * px)[None, :]
        cy = (geodetic.top - r * tsx - (np.arange(256) + 0.5) * px)[:, None]
        inx = (x0 < cx) & (cx < x2)
        mask = (inx & (y0 < cy) & (cy < y1)) | ((x0 < cx) & (cx < x1) & (y1 < cy) & (cy < y2))
        if mask.any():
            ntiles += 1
            vals.append(a[mask])
    vals = np.concatenate(vals)
    assert ntiles == 2
    assert g["n_tiles"] == ntiles
    assert g["n_px"] == len(vals) == 100 * 31 + 41 * 50
    assert g["sum_val"] == int(vals.sum(dtype=np.int64))
    assert (g["min_val"], g["max_val"]) == (int(vals.min()), int(vals.max()))
    assert g["mean_val"] == float(vals.sum(dtype=np.int64)) / len(vals)


@pytest.mark.parametrize(
    "ring,msg",
    [
        (([-157.0, -156.0, -157.0, -156.5], [74.0, 74.0, 75.0]), "needs >= 3 vertices"),
        (([-157.0, -156.0], [74.0, 75.0]), "needs >= 3 vertices"),
        (([-157.0, -156.5, -156.0], [74.0, 74.5, 75.0]), "has no area"),  # collinear
    ],
    ids=["unequal", "two_vertices", "collinear"],
)
def test_zonal_poly_stats_rejects_ring_without_area(spark, geodetic, ring, msg):
    """A ring with no area fails loudly instead of reading as "no pixels"."""
    from tilematrix_spark import raster

    tiles = spark.createDataFrame(
        [(2, 4, 256, 256, bytearray(256 * 256))],
        "row long, col long, tile_w int, tile_h int, bytes binary",
    )
    zones = spark.createDataFrame(
        [(1, *ring)], "zone_id long, poly_x array<double>, poly_y array<double>"
    )
    with pytest.raises(Exception, match=f"ring {msg}"):
        raster.zonal_poly_stats(tiles, zones, geodetic, 5).collect()


def test_zonal_poly_stats_rejects_ring_without_area_off_the_tiles(spark, geodetic):
    """Rings are checked before the canvas join: a collinear ring whose
    windows (tile (3, 4)) meet no tile in ``tiles`` still raises."""
    from tilematrix_spark import raster

    tiles = spark.createDataFrame(
        [(2, 4, 256, 256, bytearray(256 * 256))],
        "row long, col long, tile_w int, tile_h int, bytes binary",
    )
    zones = spark.createDataFrame(
        [(1, [-157.0, -156.5, -156.0], [70.0, 70.5, 71.0])],
        "zone_id long, poly_x array<double>, poly_y array<double>",
    )
    with pytest.raises(ValueError, match="ring has no area"):
        raster.zonal_poly_stats(tiles, zones, geodetic, 5).collect()


def test_zonal_majority_two_class_and_tie(spark, geodetic):
    """Majority semantics on a controlled canvas: the dominant class wins
    inside the zone window; an exact tie picks the SMALLEST class code;
    frac = n_px / n_zone_px exactly."""
    from tilematrix_spark import raster

    a = np.full((256, 256), 9, np.uint8)
    a[:, :100] = 3  # inside a window covering cols >=100 only, 9 dominates
    tiles = spark.createDataFrame(
        [(2, 4, 256, 256, bytearray(a.tobytes()))],
        "row long, col long, tile_w int, tile_h int, bytes binary",
    )
    # tile (2,4) at z5: x [-157.5, -151.875], y [73.125, 78.75]
    zones = spark.createDataFrame(
        [
            (1, -154.0, 74.0, -152.0, 75.0),  # right half: all class 9
            (2, -157.5, 74.0, -151.875, 75.0),  # full width: 100 vs 156 cols
        ],
        "zone_id long, zleft double, zbottom double, zright double, ztop double",
    )
    kw = dict(left="zleft", bottom="zbottom", right="zright", top="ztop")
    out = {
        r["zone_id"]: r.asDict()
        for r in raster.zonal_majority(tiles, zones, geodetic, 5, **kw).collect()
    }
    assert out[1]["majority_class"] == 9 and out[1]["frac"] == 1.0
    assert out[2]["majority_class"] == 9
    # zone 2 spans all 256 columns, 156 of them class 9
    assert out[2]["n_px"] * 256 == out[2]["n_zone_px"] * 156
    assert out[2]["frac"] == out[2]["n_px"] / out[2]["n_zone_px"]
    # exact tie: 128/128 columns -> smaller class (3) must win
    b = np.full((256, 256), 9, np.uint8)
    b[:, :128] = 3
    tiles2 = spark.createDataFrame(
        [(2, 4, 256, 256, bytearray(b.tobytes()))],
        "row long, col long, tile_w int, tile_h int, bytes binary",
    )
    zfull = spark.createDataFrame(
        [(7, -157.5, 74.0, -151.875, 75.0)],
        "zone_id long, zleft double, zbottom double, zright double, ztop double",
    )
    tie = raster.zonal_majority(tiles2, zfull, geodetic, 5, **kw).collect()[0]
    assert tie["majority_class"] == 3 and tie["frac"] == 0.5
