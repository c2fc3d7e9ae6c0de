"""Incremental pyramid maintenance: recompute only what an update batch
touches, and propagate the change up the overview chain.

At corpus scale a full pyramid rebuild costs ∝ |corpus| no matter how small
the update; these operators make maintenance cost ∝ |updates|:

- :func:`dirty_tiles` — the base-zoom tile keys an update batch's
  footprints cover (a slim no-bytes pass over the update batch only).
- :func:`dirty_tile_stats` — the maintenance work estimate per dirty tile
  (new vs total contributors); the planner surface, fully SQL-expressible
  and value-oracled by the ``incremental_dirty`` driver query.
- :func:`incremental_compose` — new canvases for ONLY the dirty tiles,
  composed from the full corpus (old ∪ updates) in one windows pass whose
  update-tagged rows give the dirty keys of a broadcast semi-join: only
  dirty tiles' contributors are decoded, map-side, and no contributor bytes
  shuffle at all — only covered-pixel partials of the dirty tiles do.
- :func:`propagate_level` — one overview step restricted to the dirty
  parents (clean siblings read from the committed level, fresh canvases
  from the delta).  Callers chain it base→min zoom over
  ``merged_level(committed, child_delta)``, as ``jobs/incremental_job.py``
  does.  Each level's delta is ≤ 4× smaller than the last, so total
  propagation work is ≤ 4/3 of the base delta (geometric series).

The outputs are per-zoom DELTAS — exactly the dirty keys' new rows.  Sinks
apply them with a key-replace (``merged_level``) or, on a partitioned
table, dynamic partition overwrite of the dirty partitions; writing deltas
rather than merged levels keeps bytes-written ∝ dirty fraction too.
``jobs/incremental_job.py`` commits one delta per zoom on ``PyramidJob``
(idempotent mid-pyramid resume, same as the full build).

Parity contract (pinned by ``tests/test_incremental.py``): merging every
delta into the old pyramid is byte-identical to a full rebuild from
(old ∪ updates) at every zoom — integer-mean composition and the 2×2 box
filter are deterministic, so incremental == batch exactly, not approximately.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import raster
from .grid import PyramidConfig

__all__ = [
    "dirty_tiles",
    "dirty_tile_stats",
    "incremental_compose",
    "propagate_level",
    "merged_level",
]


def dirty_tiles(
    updates: DataFrame,
    tp: PyramidConfig,
    zoom: int,
    max_cover_tiles: Optional[int] = None,
) -> DataFrame:
    """Distinct (row, col) at ``zoom`` whose canvas the update batch
    affects: the non-empty-window cover of each update footprint.  Scans
    only footprint columns of the UPDATE batch (column-pruned, no bytes)."""
    slim = updates.select("fp_left", "fp_bottom", "fp_right", "fp_top")
    win = raster.raster_tile_windows(slim, tp, zoom, max_cover_tiles=max_cover_tiles)
    return (
        win.filter((F.col("win_width") > 0) & (F.col("win_height") > 0))
        .select("row", "col")
        .distinct()
    )


def dirty_tile_stats(
    old_images: DataFrame,
    updates: DataFrame,
    tp: PyramidConfig,
    zoom: int,
    max_cover_tiles: Optional[int] = None,
) -> DataFrame:
    """Per dirty tile: how many NEW contributors land on it and how many
    TOTAL contributors its recomposition will read — the work estimate a
    maintenance planner batches on.  One slim windows pass over old and new
    (no bytes), counts merged per tile, dirty tiles only."""

    def _counts(df: DataFrame, name: str) -> DataFrame:
        slim = df.select("fp_left", "fp_bottom", "fp_right", "fp_top")
        win = raster.raster_tile_windows(slim, tp, zoom, max_cover_tiles=max_cover_tiles)
        return (
            win.filter((F.col("win_width") > 0) & (F.col("win_height") > 0))
            .groupBy("row", "col")
            .agg(F.count(F.lit(1)).alias(name))
        )

    new_c = _counts(updates, "n_new")
    old_c = _counts(old_images, "n_old")
    return (
        new_c.join(old_c, ["row", "col"], "left")
        .select(
            "row",
            "col",
            "n_new",
            (F.col("n_new") + F.coalesce(F.col("n_old"), F.lit(0))).alias("n_total"),
        )
    )


def incremental_compose(
    old_images: DataFrame,
    updates: DataFrame,
    tp: PyramidConfig,
    zoom: int,
    **compose_kwargs,
) -> DataFrame:
    """New canvases for ONLY the tiles the update batch dirties, composed
    from the full corpus (old ∪ updates).  One windows pass over the
    corpus, tagged with a literal ``_upd`` flag per side, yields the dirty
    key set (the ``_upd`` rows' non-empty windows — ``dirty_tiles``
    semantics; the flag filter prunes the old side, so that branch scans
    only the update batch) and the canvases.  The dirty keys ride a
    broadcast semi-join in front of the compose's map-side decode, so only
    a dirty tile's contributors are decoded and only its covered-pixel
    partials shuffle."""
    corpus = old_images.withColumn("_upd", F.lit(False)).unionByName(
        updates.withColumn("_upd", F.lit(True))
    )
    cover_cap = compose_kwargs.pop("max_cover_tiles", None)
    win = raster._nonempty(raster._windows(corpus, tp, zoom, max_cover_tiles=cover_cap))
    dirty = win.filter(F.col("_upd")).select("row", "col")
    return raster._compose_windows(win, tp, zoom, tiles_filter=dirty, **compose_kwargs)


_CANVAS_COLS = ["row", "col", "tile_w", "tile_h", "bytes"]


def merged_level(old_level: DataFrame, delta: DataFrame) -> DataFrame:
    """The current view of a zoom level: committed tiles with every dirty
    key replaced by its delta row.  Key-replace = broadcast anti-join (the
    delta key set is small) + union; only canvas columns are kept (the
    per-level count column differs between compose and overview output)."""
    keys = F.broadcast(delta.select("row", "col").distinct())
    keep = old_level.join(keys, ["row", "col"], "left_anti")
    return keep.select(*_CANVAS_COLS).unionByName(delta.select(*_CANVAS_COLS))


def propagate_level(current_level: DataFrame, dirty_keys: DataFrame) -> DataFrame:
    """One overview step restricted to the dirty parents: every child of a
    parent containing a dirty key is pulled from ``current_level`` (the
    post-merge view — clean siblings committed, dirty canvases fresh) and
    box-filtered down.  Returns the parent-level DELTA; its keys are the
    next level's dirty set (``parent_keys``)."""
    pk = F.broadcast(
        dirty_keys.select(
            F.shiftright("row", 1).alias("_pr"), F.shiftright("col", 1).alias("_pc")
        ).distinct()
    )
    kids = current_level.join(
        pk,
        (F.shiftright(current_level["row"], 1) == F.col("_pr"))
        & (F.shiftright(current_level["col"], 1) == F.col("_pc")),
        "left_semi",
    )
    return raster.overview_level(kids)


def focal_dirty_ring(
    dirty_keys: DataFrame, tp: PyramidConfig, zoom: int, radius: int = 1
) -> DataFrame:
    """The tile keys whose FOCAL OUTPUT an update batch invalidates: the
    dirty tiles plus their 8-neighbor ring (a radius < tile_size stencil
    reads at most one tile over each border; column wrap / row clamp, the
    same topology the halo exchange uses).  Native explode over the 9
    offsets — a slim keys-only pass over the dirty set."""
    from . import exprs

    if not 0 < int(radius) < int(tp.tile_size) * int(tp.metatiling):
        raise ValueError("radius must be in [1, tile_size)")
    offs = F.explode(
        F.array(
            *[
                F.struct(F.lit(dy).alias("dy"), F.lit(dx).alias("dx"))
                for dy in (-1, 0, 1)
                for dx in (-1, 0, 1)
            ]
        )
    ).alias("o")
    mw = exprs.matrix_width(tp, zoom)
    mh = exprs.matrix_height(tp, zoom)
    return (
        dirty_keys.select("row", "col", offs)
        .select(
            (F.col("row") + F.col("o.dy")).alias("row"),
            F.pmod(F.col("col") + F.col("o.dx"), mw).alias("col"),
        )
        .filter((F.col("row") >= 0) & (F.col("row") < mh))
        .distinct()
    )


def incremental_focal(
    base_tiles: DataFrame,
    updated_tiles: DataFrame,
    tp: PyramidConfig,
    zoom: int,
    radius: int = 1,
    **focal_kwargs,
) -> DataFrame:
    """Incremental stencil maintenance: after an update batch REPLACES some
    tiles' canvases, recompute focal output for ONLY the tiles whose
    windows the batch can reach — the updated tiles and their neighbor
    ring — instead of re-running the stencil over the corpus.

    Cost ∝ |updates|·9, not |corpus|: the merged corpus (base with updated
    keys swapped out) is restricted to ring(ring(dirty)) via a BROADCAST
    semi-join before any bytes move — that superset is exactly the halo
    input set the dirty-ring outputs need — then ``raster.focal_stats``
    runs its normal one-exchange halo pipeline on that small slice, and
    the output keeps only the invalidated keys.  Every kept output tile
    sees ALL its real neighbors (ring(dirty) ⊆ input), so the deltas are
    byte-identical to a full recompute (pinned by
    ``tests/test_incremental.py``).  Output: the focal DELTA — apply with
    ``merged_level`` / dynamic partition overwrite like the pyramid
    deltas."""
    dirty = updated_tiles.select("row", "col").distinct()
    out_keys = focal_dirty_ring(dirty, tp, zoom, radius)
    # input needs the neighbors OF the output keys: one more ring step
    in_keys = focal_dirty_ring(out_keys, tp, zoom, radius)
    merged = base_tiles.join(
        F.broadcast(
            dirty.withColumnRenamed("row", "_dr").withColumnRenamed("col", "_dc")
        ),
        (F.col("row") == F.col("_dr")) & (F.col("col") == F.col("_dc")),
        "left_anti",
    ).unionByName(
        updated_tiles.select(*base_tiles.columns)
    )
    focal_in = merged.join(F.broadcast(in_keys), ["row", "col"], "left_semi")
    out = raster.focal_stats(focal_in, tp, zoom, radius=radius, **focal_kwargs)
    return out.join(F.broadcast(out_keys), ["row", "col"], "left_semi")
