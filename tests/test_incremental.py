"""Incremental pyramid maintenance: deltas merged into the committed
pyramid must equal a full rebuild byte-for-byte at every zoom (integer-mean
composition and the 2x2 box filter are deterministic, so incremental ==
batch EXACTLY)."""

import pytest
from pyspark.sql import functions as F

from tilematrix_spark import images, incremental, raster

N_OLD, N_UPD = 120, 30
BASE_Z, MIN_Z = 4, 2


def _split(spark):
    total = images.images_df(spark, N_OLD + N_UPD, partitions=8)
    split_id = f"img{N_OLD:012d}"
    return (
        total,
        total.filter(F.col("image_id") < split_id),
        total.filter(F.col("image_id") >= split_id),
    )


def _canvases(df):
    return {
        (r["row"], r["col"]): (r["tile_w"], r["tile_h"], bytes(r["bytes"]))
        for r in df.select("row", "col", "tile_w", "tile_h", "bytes").collect()
    }


@pytest.fixture(scope="module")
def pyramids(spark, geodetic):
    total, old, upd = _split(spark)
    old_levels = {
        z: df.persist()
        for z, df in raster.build_overviews(
            raster.compose_tiles(old, geodetic, BASE_Z), BASE_Z, MIN_Z
        ).items()
    }
    full_levels = {
        z: df.persist()
        for z, df in raster.build_overviews(
            raster.compose_tiles(total, geodetic, BASE_Z), BASE_Z, MIN_Z
        ).items()
    }
    # the level chain jobs/incremental_job.py commits: compose the base
    # delta, then per zoom merge the committed level with the child delta
    # and propagate the dirty parents.  persist stands in for the commit:
    # the z-1 delta reads the z delta twice (merge + dirty keys)
    deltas = {BASE_Z: incremental.incremental_compose(old, upd, geodetic, BASE_Z).persist()}
    for z in range(BASE_Z - 1, MIN_Z - 1, -1):
        current = incremental.merged_level(old_levels[z + 1], deltas[z + 1])
        deltas[z] = incremental.propagate_level(current, deltas[z + 1].select("row", "col")).persist()
    yield old_levels, full_levels, deltas, upd
    for dfs in (old_levels, full_levels, deltas):
        for df in dfs.values():
            df.unpersist()


def test_incremental_equals_full_rebuild(pyramids, spark, geodetic):
    old_levels, full_levels, deltas, _ = pyramids
    for z in range(BASE_Z, MIN_Z - 1, -1):
        merged = _canvases(incremental.merged_level(old_levels[z], deltas[z]))
        full = _canvases(full_levels[z])
        assert set(merged) == set(full), f"tile sets differ at z{z}"
        diff = [k for k in full if merged[k] != full[k]]
        assert not diff, f"{len(diff)} canvases differ at z{z}: {diff[:5]}"


def test_delta_is_small(pyramids, geodetic):
    """The whole point: the delta touches only the dirty cover, which is a
    |updates|-sized set, strictly smaller than the level."""
    old_levels, _, deltas, upd = pyramids
    dirty = incremental.dirty_tiles(upd, geodetic, BASE_Z)
    n_dirty = dirty.count()
    assert deltas[BASE_Z].count() == n_dirty
    assert n_dirty < old_levels[BASE_Z].count()
    # propagation shrinks (<=4 children per parent ensures monotone non-growth)
    sizes = [deltas[z].count() for z in range(BASE_Z, MIN_Z - 1, -1)]
    assert all(b <= a for a, b in zip(sizes, sizes[1:]))


def test_incremental_compose_keys_are_dirty_tiles(pyramids, geodetic):
    """The base delta's keys (the dirty set incremental_compose tags out of
    its one windows pass) are exactly the public ``dirty_tiles`` set."""
    _, _, deltas, upd = pyramids
    got = {(r["row"], r["col"]) for r in deltas[BASE_Z].select("row", "col").collect()}
    want = {
        (r["row"], r["col"])
        for r in incremental.dirty_tiles(upd, geodetic, BASE_Z).collect()
    }
    assert got == want and want


def test_dirty_tile_stats_match_windows(pyramids, spark, geodetic):
    """n_new/n_total agree with a direct windows aggregation over the
    corpus, and stats rows are exactly the dirty keys."""
    _, _, _, upd = pyramids
    total, old, upd2 = _split(spark)
    stats = incremental.dirty_tile_stats(old, upd2, geodetic, BASE_Z)
    got = {
        (r["row"], r["col"]): (r["n_new"], r["n_total"]) for r in stats.collect()
    }
    win = raster.raster_tile_windows(total, geodetic, BASE_Z).filter(
        (F.col("win_width") > 0) & (F.col("win_height") > 0)
    )
    split_id = f"img{N_OLD:012d}"
    want_rows = (
        win.groupBy("row", "col")
        .agg(
            F.sum((F.col("image_id") >= split_id).cast("long")).alias("n_new"),
            F.count(F.lit(1)).alias("n_total"),
        )
        .filter(F.col("n_new") > 0)
        .collect()
    )
    want = {(r["row"], r["col"]): (r["n_new"], r["n_total"]) for r in want_rows}
    assert got == want


def test_incremental_focal_matches_full_recompute(spark):
    """incremental_focal == full focal_stats restricted to the invalidated
    keys, byte-identical — and the delta covers exactly dirty + ring."""
    import numpy as np
    import pandas as pd

    from tilematrix_spark import incremental, raster
    from tilematrix_spark.grid import PyramidConfig

    tp = PyramidConfig.create("geodetic", tile_size=8)
    ts, zoom = 8, 2  # mw=8, mh=4
    rng = np.random.RandomState(5)

    def mk(keys, seed_off=0):
        rows = []
        for i, (r, c) in enumerate(keys):
            a = ((rng.permutation(ts * ts) + seed_off + 7 * i) % 256).astype(
                np.uint8
            )
            rows.append(
                {"row": r, "col": c, "tile_w": ts, "tile_h": ts,
                 "bytes": a.tobytes()}
            )
        return spark.createDataFrame(pd.DataFrame(rows))

    base_keys = [(r, c) for r in (1, 2) for c in (2, 3, 4, 5)]
    base = mk(base_keys)
    updates = mk([(1, 3), (2, 4)], seed_off=91)

    inc = (
        incremental.incremental_focal(base, updates, tp, zoom, radius=1)
        .toPandas()
        .set_index(["row", "col"])
        .sort_index()
    )
    # full recompute over the merged corpus
    full_corpus = base.join(
        updates.select("row", "col"), ["row", "col"], "left_anti"
    ).unionByName(updates)
    full = (
        raster.focal_stats(full_corpus, tp, zoom, radius=1)
        .toPandas()
        .set_index(["row", "col"])
        .sort_index()
    )
    want_keys = {(1, 3), (2, 4)} | {
        (r + dy, c + dx)
        for (r, c) in [(1, 3), (2, 4)]
        for dy in (-1, 0, 1)
        for dx in (-1, 0, 1)
    }
    want_keys = {(r, c) for (r, c) in want_keys if (r, c) in set(base_keys)}
    assert set(inc.index) == want_keys
    for key in want_keys:
        assert inc.loc[key, "bytes"] == full.loc[key, "bytes"], key
