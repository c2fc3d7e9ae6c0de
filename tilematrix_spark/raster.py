"""Raster ↔ vector bridge + per-row image verification.

* ``raster_tile_windows``: map each image footprint onto pyramid tiles and
  compute the pixel window of the footprint inside each tile via the tile
  affine (``_tile.py:126-139``) — pure native Column math after the cover
  explode; this is the engine's "raster↔vector tiling onto row/col/zoom
  addressing" operator.
* ``verify_images``: the BASELINE per-row invariant — decode each image,
  REGENERATE the expected pixels deterministically from image_id
  (images.py), check allclose for ``raw`` / PSNR ≥ 40 dB for lossy, caption
  equality, and phash equality.  Arrow-batched ``mapInPandas``; no per-row
  Python UDFs.
"""

from __future__ import annotations

from typing import Iterator, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import exprs, geomkernels, images
from .functions.multimodal import _shape_groups, decode_image, snapshot_decoders
from .grid import PyramidConfig
from .operators import assign
from .operators import cover as cover_ops
from .operators import pip


def raster_tile_windows(
    df: DataFrame,
    tp: PyramidConfig,
    zoom: exprs.ZoomLike,
    fp_left: str = "fp_left",
    fp_bottom: str = "fp_bottom",
    fp_right: str = "fp_right",
    fp_top: str = "fp_top",
    pixelbuffer: int = 0,
    max_cover_tiles: Optional[int] = None,
) -> DataFrame:
    """Explode images onto the tiles their footprint covers, with the pixel
    window of the footprint inside each (buffered) tile.

    Output adds: row, col, tile pixel window (win_col_off, win_row_off,
    win_width, win_height) — the affine-inverse mapping
    ``col = (x - tile.left)/px``, ``row = (tile.top - y)/py``, clipped to the
    tile shape.  Windows are in the tile's pixel grid; callers slice decoded
    arrays with them.
    """
    return _windows(
        df, tp, zoom, fp_left, fp_bottom, fp_right, fp_top, pixelbuffer, max_cover_tiles
    ).drop(*_TILE_COLS)


#: the bound per-tile scalars ``_windows`` keeps: (buffered) tile left/top
#: and int pixel width/height
_TILE_COLS = ["_tl", "_tt", "_tw", "_th"]


def _windows(
    df: DataFrame,
    tp: PyramidConfig,
    zoom: exprs.ZoomLike,
    fp_left: str = "fp_left",
    fp_bottom: str = "fp_bottom",
    fp_right: str = "fp_right",
    fp_top: str = "fp_top",
    pixelbuffer: int = 0,
    max_cover_tiles: Optional[int] = None,
) -> DataFrame:
    """``raster_tile_windows`` plus the bound ``_TILE_COLS`` its windows
    are derived from.

    The tile geometry is projected ONCE as bound columns right after the
    cover explode, and every window expression reads those attributes: the
    antimeridian when-chain references the tile left/width a dozen times,
    and CollapseProject keeps a non-cheap expression that is used more than
    once in its own projection instead of inlining a copy per use."""
    out = cover_ops.tiles_from_bounds(
        df, tp, zoom, left=fp_left, bottom=fp_bottom, right=fp_right, top=fp_top,
        max_cover_tiles=max_cover_tiles,
    )
    b = exprs.tile_bounds(tp, zoom, "row", "col", pixelbuffer)
    s = exprs.tile_shape(tp, zoom, "row", "col", pixelbuffer)
    out = out.select(
        "*",
        b["left"].alias("_tl"),
        b["top"].alias("_tt"),
        s["width"].alias("_tw"),
        s["height"].alias("_th"),
    )
    t_left, t_top = F.col("_tl"), F.col("_tt")
    w_px, h_px = F.col("_tw").cast("long"), F.col("_th").cast("long")
    px = exprs.pixel_x_size(tp, zoom)
    py = exprs.pixel_y_size(tp, zoom)
    zero = F.lit(0).cast("long")

    # x-axis: a footprint straddling the antimeridian meets wrapped tiles —
    # evaluate the window at footprint shifts {0, ±span} and keep the one
    # with the widest overlap (native when-chain, no Python)
    def x_window(shift: float):
        fl = F.col(fp_left) + F.lit(shift)
        fr = F.col(fp_right) + F.lit(shift)
        off = F.greatest(exprs.trunc_long(F.floor((fl - t_left) / px)), zero)
        end = F.least(exprs.trunc_long(F.ceil((fr - t_left) / px)), w_px)
        return off, F.greatest(end - off, zero)

    shifts = [0.0]
    if tp.is_global:
        span = tp.right - tp.left
        shifts += [-span, span]
    offs_widths = [x_window(sh) for sh in shifts]
    best_off, best_width = offs_widths[0]
    for off, width in offs_widths[1:]:
        better = width > best_width
        best_off = F.when(better, off).otherwise(best_off)
        best_width = F.when(better, width).otherwise(best_width)

    row_off = F.greatest(exprs.trunc_long(F.floor((t_top - F.col(fp_top)) / py)), zero)
    row_end = F.least(exprs.trunc_long(F.ceil((t_top - F.col(fp_bottom)) / py)), h_px)
    return out.withColumns(
        {
            # keep offset within the tile even for zero-width windows
            "win_col_off": F.least(best_off, w_px),
            "win_row_off": F.least(row_off, h_px),
            "win_width": best_width,
            "win_height": F.greatest(row_end - row_off, zero),
        }
    )


_COMPOSE_SCHEMA = T.StructType(
    [
        T.StructField("row", T.LongType()),
        T.StructField("col", T.LongType()),
        T.StructField("n_images", T.IntegerType()),
        T.StructField("tile_w", T.IntegerType()),
        T.StructField("tile_h", T.IntegerType()),
        T.StructField("bytes", T.BinaryType()),
    ]
)

_WIN_COLS = [
    "row", "col", "bytes", "w", "h", "fmt",
    "fp_left", "fp_bottom", "fp_right", "fp_top",
    "win_col_off", "win_row_off", "win_width", "win_height",
]


def _accumulate(pdf: pd.DataFrame, pxs: float, pys: float, span, decoders=None) -> tuple:
    """Shared compose accumulator: decode every contributor in ``pdf`` (rows
    of one tile), nearest-neighbor resample into the tile pixel grid, and
    add into int64 sum/count planes.  Integer sums are associative, so
    planes accumulated over disjoint slices of a tile's contributors merge
    to the exact same result as one pass (pytest pins byte-identity)."""
    tw = int(pdf["_tw"].iat[0])
    th = int(pdf["_th"].iat[0])
    t_left = float(pdf["_tl"].iat[0])
    t_top = float(pdf["_tt"].iat[0])
    acc = np.zeros((th, tw, 3), dtype=np.int64)
    cnt = np.zeros((th, tw, 1), dtype=np.int64)
    blended = 0
    for rec in pdf.itertuples(index=False):
        img = decode_image(rec.bytes, int(rec.w), int(rec.h), rec.fmt, decoders)
        j0, i0 = int(rec.win_col_off), int(rec.win_row_off)
        ww, wh = int(rec.win_width), int(rec.win_height)
        j1, i1 = min(j0 + ww, tw), min(i0 + wh, th)
        if j1 <= j0 or i1 <= i0:
            # defensive only: the win_width/height > 0 filter already implies
            # off < tile dim (off < end <= dim), so every row here blends —
            # n_images therefore counts BLENDED contributors
            continue
        # antimeridian straddlers met this tile at a ±span shift of the
        # footprint: re-derive the winning shift from the window center
        fpl, fpr = rec.fp_left, rec.fp_right
        if span is not None:
            cx = t_left + (j0 + j1) / 2.0 * pxs
            k = round((cx - (fpl + fpr) / 2.0) / span)
            fpl, fpr = fpl + k * span, fpr + k * span
        # tile-pixel centers -> image pixel indices (nearest neighbor)
        fx = np.clip(
            ((t_left + (np.arange(j0, j1) + 0.5) * pxs) - fpl)
            / (fpr - fpl) * int(rec.w),
            0, int(rec.w) - 1,
        ).astype(np.int64)
        fy = np.clip(
            ((t_top - (np.arange(i0, i1) + 0.5) * pys) - rec.fp_top)
            / (rec.fp_bottom - rec.fp_top) * int(rec.h),
            0, int(rec.h) - 1,
        ).astype(np.int64)
        acc[i0:i1, j0:j1] += img[fy][:, fx].astype(np.int64)
        cnt[i0:i1, j0:j1] += 1
        blended += 1
    return acc, cnt, blended, tw, th


def _finalize(acc: np.ndarray, cnt: np.ndarray) -> bytes:
    return np.where(cnt > 0, acc // np.maximum(cnt, 1), 0).astype(np.uint8).tobytes()


def _frames(rows, columns, limit: int = 1 << 22) -> Iterator[pd.DataFrame]:
    """Kernel output rows as DataFrames of at most ~``limit`` binary bytes
    each, so a kernel holds one bounded frame of output, not a batch's."""
    buf, size = [], 0
    for r in rows:
        buf.append(r)
        size += sum(len(v) for v in r if isinstance(v, bytes))
        if size >= limit:
            yield pd.DataFrame.from_records(buf, columns=columns)
            buf, size = [], 0
    if buf:
        yield pd.DataFrame.from_records(buf, columns=columns)


def _by_key(df: DataFrame, *keys) -> DataFrame:
    """Hash-exchange ``df`` on ``keys`` into ``spark.sql.shuffle.partitions``
    partitions, for a Python reduce stage behind it.  A groupBy's own
    exchange is one AQE coalesces by compressed size: 128 canvases shuffle
    as ~390 KB and land in ONE partition, so the Python stage runs as one
    task on one core.  A repartition with an explicit count is a
    REPARTITION_BY_NUM exchange, which AQE does not coalesce."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n, *keys)


def compose_tiles(
    df: DataFrame,
    tp: PyramidConfig,
    zoom: int,
    max_cover_tiles: Optional[int] = None,
    tiles_filter: Optional[DataFrame] = None,
    max_contributors_per_tile: Optional[int] = None,
) -> DataFrame:
    """Mosaic the images table onto pyramid tiles: every tile gets a raw
    RGB canvas composed from ALL images whose footprint covers it —
    nearest-neighbor resampled onto the tile's pixel grid, overlaps
    averaged (integer mean, deterministic).  The raster→vector tiling
    endgame: (row, col, n_images, tile_w, tile_h, bytes).  ``n_images``
    counts the contributors actually blended into the canvas (≡ the
    window-intersecting rows: win_width/height > 0 implies a non-empty
    clipped window).

    Execution shape — decode where the bytes are scanned, move only
    partials (Raptor's in-situ raster scan):

    1. ONE windows pass (cover explode + window math, native exprs) feeds
       a ``mapInPandas`` in the scan's stage.  Per (Arrow batch, tile) it
       decodes and resamples that batch's contributors into int64 planes
       and emits one partial of the COVERED pixels only: flat pixel
       indices, int32 RGB sums, int32 counts and the blended count.
       Image bytes never shuffle, and a hot tile's decode work is spread
       over every scan task that holds its contributors — no skew split.
    2. ONE ``(row, col)`` exchange (``_by_key``, one task per core at any
       compressed size), a native ``collect_list`` of each tile's partials,
       and a batch ``mapInPandas`` that adds them into int64 planes and
       finalizes the integer mean.  Sums are associative, so the canvas and
       ``n_images`` do not depend on partitioning or batch size (pytest
       pins it against a single-pass reference).

    ``tiles_filter`` (optional, columns row/col) restricts composition to
    those tile keys via a BROADCAST semi-join applied before any decode —
    the incremental-maintenance hook (`incremental.py`): only dirty tiles'
    contributors are decoded, so update cost is ∝ |dirty cover|, not
    |corpus|.  The filter set is a tile cover (≤ matrix size at the
    compose zoom), small by construction.

    ``max_contributors_per_tile`` (optional): a pathological tile (10⁶
    contributors) still pays 10⁶ decodes.  With the cap set, a per-tile
    count pre-pass runs and tiles over the cap blend only a deterministic
    hash-sample of ~cap contributors (keep-probability cap/count on a
    seeded xxhash64 of the contributor identity — stable across retries,
    NO rand()), the rest are counted, not decoded.  The output gains an
    ``n_quarantined`` column (0 for uncapped tiles); ``n_images`` keeps
    counting what was actually blended, so ``n_images + n_quarantined`` =
    the true contributor count.  Mirrors ``max_cover_tiles``: an explicit,
    observable bound instead of a silent runaway.  Default ``None`` =
    exact blend of everything, no pre-pass, and the output schema is
    unchanged.
    """
    win = _nonempty(_windows(df, tp, zoom, max_cover_tiles=max_cover_tiles))
    return _compose_windows(win, tp, zoom, tiles_filter, max_contributors_per_tile)


def _nonempty(win: DataFrame) -> DataFrame:
    return win.filter((F.col("win_width") > 0) & (F.col("win_height") > 0))


def _compose_windows(
    win: DataFrame,
    tp: PyramidConfig,
    zoom: int,
    tiles_filter: Optional[DataFrame] = None,
    max_contributors_per_tile: Optional[int] = None,
) -> DataFrame:
    """``compose_tiles`` from its non-empty ``_windows`` rows."""
    if tiles_filter is not None:
        keys = F.broadcast(tiles_filter.select("row", "col").distinct())
        win = win.join(keys, ["row", "col"], "left_semi")
    quarantine = None
    if max_contributors_per_tile is not None:
        # uniform-in-[0,1) per contributor on a seeded hash that MUST
        # include a per-row unique column (image_id) when there is one, so
        # exact-duplicate contributors are sampled independently;
        # deterministic across task retries (no rand())
        ident = ["fp_left", "fp_bottom", "fp_right", "fp_top", "w", "h", "fmt"]
        if "image_id" in win.columns:
            ident = ["image_id", *ident]
        qh = (
            F.pmod(F.xxhash64(F.lit("tmx_quarantine"), *ident), F.lit(1 << 30))
        ).cast("double") / F.lit(float(1 << 30))
        counts = win.groupBy("row", "col").agg(F.count(F.lit(1)).alias("_tile_n"))
        win = win.join(counts, on=["row", "col"])
        cap = int(max_contributors_per_tile)
        keep = (F.col("_tile_n") <= cap) | (qh * F.col("_tile_n") < F.lit(float(cap)))
        quarantine = (
            win.filter(~keep)
            .groupBy("row", "col")
            .agg(F.count(F.lit(1)).alias("n_quarantined"))
        )
        win = win.filter(keep)
    win = win.select(*_WIN_COLS, *_TILE_COLS)  # slim the Arrow transfer

    pxs, pys = tp.pixel_x_size(zoom), tp.pixel_y_size(zoom)
    span = (tp.right - tp.left) if tp.is_global else None
    decoders = snapshot_decoders()  # ships to executors in the kernel closure
    part_cols = ["row", "col", "tile_w", "tile_h", "n_images", "pix", "sums", "cnt"]
    part_schema = (
        "row long, col long, tile_w int, tile_h int, n_images int,"
        " pix binary, sums binary, cnt binary"
    )

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def rows():
            # one tile's dense planes at a time; only covered pixels leave
            for pdf in batches:
                for (r, c), tile in pdf.groupby(["row", "col"], sort=False):
                    acc, cnt, blended, tw, th = _accumulate(tile, pxs, pys, span, decoders)
                    idx = np.flatnonzero(cnt)
                    # 255·n fits int32 up to 8.4M contributors per batch
                    yield (
                        int(r), int(c), tw, th, blended,
                        idx.astype(np.int32).tobytes(),
                        acc.reshape(-1, 3)[idx].astype(np.int32).tobytes(),
                        cnt.reshape(-1)[idx].astype(np.int32).tobytes(),
                    )

        return _frames(rows(), part_cols)

    def merge(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def rows():
            for pdf in batches:
                for r, c, tw, th, parts in pdf.itertuples(index=False):
                    acc = np.zeros((th * tw, 3), dtype=np.int64)
                    cnt = np.zeros((th * tw, 1), dtype=np.int64)
                    n = 0
                    for p in parts:
                        idx = np.frombuffer(p["pix"], dtype=np.int32)
                        acc[idx] += np.frombuffer(p["sums"], dtype=np.int32).reshape(-1, 3)
                        cnt[idx, 0] += np.frombuffer(p["cnt"], dtype=np.int32)
                        n += int(p["n_images"])
                    yield int(r), int(c), n, int(tw), int(th), _finalize(acc, cnt)

        return _frames(rows(), _COMPOSE_SCHEMA.fieldNames())

    result = (
        _by_key(win.mapInPandas(partials, schema=part_schema), "row", "col")
        .groupBy("row", "col", "tile_w", "tile_h")
        .agg(F.collect_list(F.struct("n_images", "pix", "sums", "cnt")).alias("_parts"))
        .mapInPandas(merge, schema=_COMPOSE_SCHEMA)
    )
    if quarantine is not None:
        result = result.join(quarantine, ["row", "col"], "left").withColumn(
            "n_quarantined", F.coalesce(F.col("n_quarantined"), F.lit(0))
        )
    return result


_OVERVIEW_SCHEMA = T.StructType(
    [
        T.StructField("row", T.LongType()),
        T.StructField("col", T.LongType()),
        T.StructField("n_children", T.IntegerType()),
        T.StructField("tile_w", T.IntegerType()),
        T.StructField("tile_h", T.IntegerType()),
        T.StructField("bytes", T.BinaryType()),
    ]
)


def overview_level(tiles: DataFrame) -> DataFrame:
    """One pyramid overview step: composed tiles at zoom z → tiles at z-1.

    Each parent (row//2, col//2) assembles from its ≤4 children: a child is
    2×2 box-filtered (integer mean — deterministic, exact) to half
    resolution and placed in its quadrant (row%2, col%2); missing quadrants
    stay black.  Mirrors the overview/downsample step of gdal2tiles-style
    pyramid builds on the reference's grid addressing (row/col halve per
    zoom on both pyramid axes, ``tilematrix/_tile.py`` get_parent).

    Scale shape: one parent-key exchange (``_by_key``: one task per core
    however well the canvases compress), a NATIVE ``collect_list`` agg on
    the parent key (bounded at 4 elements per group — group memory is 4
    canvases regardless of corpus size, no skew possible), then ``mapInPandas``
    downsamples THOUSANDS of parents per Arrow batch in one stacked numpy
    pass.  The earlier per-parent ``applyInPandas`` shape paid a pandas
    frame per ≤4-row group (measured 2.6x slower on a z6 full-matrix chain,
    where tiny groups dominate).
    Input needs uniform even-dimension raw-RGB tiles (``compose_tiles``
    output on a mt=1 grid).
    """

    def down(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            out_rows = pdf["_pr"].to_numpy()
            out_cols = pdf["_pc"].to_numpy()
            # flatten (parent, children≤4) into parallel child arrays;
            # pidx is non-decreasing (row order), so parent blocks map to
            # contiguous child ranges via searchsorted
            pidx, qr, qc, bufs = [], [], [], []
            for i, kids in enumerate(pdf["_kids"]):
                for k in kids:
                    pidx.append(i)
                    qr.append(int(k["row"]) % 2)
                    qc.append(int(k["col"]) % 2)
                    bufs.append(k["bytes"])
            dims = {(len(b)) for b in bufs}
            tw = int(pdf["_kids"].iat[0][0]["tile_w"])
            th = int(pdf["_kids"].iat[0][0]["tile_h"])
            tile_bytes = th * tw * 3
            if len(dims) != 1 or next(iter(dims)) != tile_bytes or tw % 2 or th % 2:
                raise ValueError(
                    "overview_level requires uniform even tile dims (mt=1 grid)"
                )
            hw, hh = tw // 2, th // 2
            n_children = np.zeros(n, dtype=np.int32)
            np.add.at(n_children, pidx, 1)
            pidx_a = np.asarray(pidx, dtype=np.int64)
            qr_a = np.asarray(qr, dtype=np.int64)
            qc_a = np.asarray(qc, dtype=np.int64)
            # two-level chunking (the CLAUDE.md multi-worker mmap/TLB
            # discipline, r4 item #8): parent canvas blocks ≤ ~512 KB so no
            # multi-MB zeros allocation ever mmaps, child-step uint16
            # temporaries ≤ ~128 KB so sums stay cache-resident; one output
            # frame per block frees each canvas chunk as soon as its bytes
            # are materialized instead of holding batch-sized peaks
            pblock = max(1, (1 << 19) // tile_bytes)
            cstep = max(1, (1 << 17) // (tile_bytes * 2))
            for ps in range(0, n, pblock):
                pe = min(ps + pblock, n)
                cs0, ce0 = np.searchsorted(pidx_a, [ps, pe])
                canvases = np.zeros((pe - ps, 2, hh, 2, hw, 3), dtype=np.uint8)
                for s in range(int(cs0), int(ce0), cstep):
                    e = min(s + cstep, int(ce0))
                    stack = np.frombuffer(b"".join(bufs[s:e]), dtype=np.uint8).reshape(
                        e - s, hh, 2, hw, 2, 3
                    )
                    # pairwise sums fit uint16 (max 4*255); //4 == the exact
                    # integer box-filter mean
                    ds = (stack.astype(np.uint16).sum(axis=(2, 4)) // 4).astype(np.uint8)
                    canvases[pidx_a[s:e] - ps, qr_a[s:e], :, qc_a[s:e], :, :] = ds
                flat = canvases.reshape(pe - ps, tile_bytes)
                yield pd.DataFrame(
                    {
                        "row": out_rows[ps:pe],
                        "col": out_cols[ps:pe],
                        "n_children": n_children[ps:pe],
                        "tile_w": np.full(pe - ps, tw, dtype=np.int32),
                        "tile_h": np.full(pe - ps, th, dtype=np.int32),
                        "bytes": [flat[i].tobytes() for i in range(pe - ps)],
                    }
                )

    grouped = (
        _by_key(
            tiles.select(
                F.shiftright("row", 1).alias("_pr"), F.shiftright("col", 1).alias("_pc"),
                "row", "col", "tile_w", "tile_h", "bytes",
            ),
            "_pr", "_pc",
        )
        .groupBy("_pr", "_pc")
        .agg(F.collect_list(F.struct("row", "col", "tile_w", "tile_h", "bytes")).alias("_kids"))
    )
    return grouped.mapInPandas(down, schema=_OVERVIEW_SCHEMA)


def build_overviews(tiles: DataFrame, base_zoom: int, min_zoom: int) -> dict:
    """Chain ``overview_level`` from ``base_zoom`` down to ``min_zoom``;
    returns {zoom: DataFrame}.  For resumable per-zoom commits use
    ``jobs/overview_job.py`` (PyramidJob: each level reads the previously
    committed one, so a crashed build resumes mid-pyramid)."""
    if min_zoom >= base_zoom:
        raise ValueError("min_zoom must be below base_zoom")
    out = {base_zoom: tiles}
    cur = tiles
    for z in range(base_zoom - 1, min_zoom - 1, -1):
        cur = overview_level(cur)
        out[z] = cur
    return out


_VERIFY_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("pixels_ok", T.BooleanType()),
        T.StructField("psnr", T.DoubleType()),
        T.StructField("caption_ok", T.BooleanType()),
        T.StructField("phash_ok", T.BooleanType()),
        T.StructField("ok", T.BooleanType()),
    ]
)


def verify_images(df: DataFrame, psnr_threshold: float = 40.0) -> DataFrame:
    """Per-row invariant check (BASELINE.json): decoded pixels vs the
    deterministic regeneration, caption equality, phash equality."""
    decoders = snapshot_decoders()  # ships to executors in the closure

    def check(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # vectorized by (w, h, fmt) group: decode/regenerate stacks, one
        # batched PSNR + average-hash per group (pixel regeneration stays
        # per-row — each row owns its own PCG64 stream); ~2x vs per-row
        for pdf in batches:
            m = len(pdf)
            if m == 0:
                continue
            idxs = images.image_idx(pdf["image_id"])
            psnr_v = np.empty(m, dtype=np.float64)
            pixels_ok = np.zeros(m, dtype=bool)
            phash_ok = np.zeros(m, dtype=bool)
            for w, h, fmt, ii in _shape_groups(pdf):
                decoded = np.stack(
                    [decode_image(pdf["bytes"].iat[i], w, h, fmt, decoders) for i in ii]
                )
                expected = images.gen_pixels_batch(idxs[ii], w, h)
                diff = decoded.astype(np.float64) - expected.astype(np.float64)
                mse = np.einsum("nijk,nijk->n", diff, diff) / diff[0].size
                with np.errstate(divide="ignore"):
                    p = 10.0 * np.log10(255.0**2 / mse)
                p[mse == 0] = np.inf
                psnr_v[ii] = p
                pixels_ok[ii] = (mse == 0) if fmt == "raw" else (p >= psnr_threshold)
                phash_ok[ii] = (
                    images.average_hash_batch(decoded)
                    == pdf["phash"].to_numpy()[ii]
                )
            lon, lat = images._lonlat_batch(idxs)
            caption_ok = pdf["caption"].to_numpy() == images.captions_batch(idxs, lon, lat)
            yield pd.DataFrame(
                {
                    "image_id": pdf["image_id"].values,
                    "fmt": pdf["fmt"].values,
                    "pixels_ok": pixels_ok,
                    "psnr": psnr_v,
                    "caption_ok": caption_ok,
                    "phash_ok": phash_ok,
                    "ok": pixels_ok & caption_ok & phash_ok,
                }
            )

    return df.select("image_id", "bytes", "w", "h", "fmt", "caption", "phash").mapInPandas(
        check, schema=_VERIFY_SCHEMA
    )


def rasterize_bins(
    df: DataFrame,
    tp: PyramidConfig,
    zoom: int,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Vector→raster point binning: one row per NON-EMPTY pixel bin —
    (row, col, py, px, n).  Pure Column math (tile assignment +
    trunc((coord - tile_origin)/pixel_size) clamped to the tile grid) into
    a two-level hash agg; the shuffle carries bins, not points.  Fully
    SQL-expressible — value-oracled by the ``rasterize_bins`` query."""
    ts = int(tp.tile_size)
    if tp.metatiling != 1:
        raise ValueError("rasterize requires an mt=1 grid")
    tiled = assign.with_tile(
        df.select(F.col(lon_col).alias("_x"), F.col(lat_col).alias("_y")),
        tp, zoom, "_x", "_y", out_tile_id=None,
    )
    b = exprs.tile_bounds(tp, zoom, "row", "col")
    px_sz = exprs.pixel_x_size(tp, zoom)
    py_sz = exprs.pixel_y_size(tp, zoom)
    px = F.least(
        F.greatest(exprs.trunc_long((F.col("_x") - b["left"]) / px_sz), F.lit(0)),
        F.lit(ts - 1),
    )
    py = F.least(
        F.greatest(exprs.trunc_long((b["top"] - F.col("_y")) / py_sz), F.lit(0)),
        F.lit(ts - 1),
    )
    return (
        tiled.select("row", "col", px.alias("px"), py.alias("py"))
        .groupBy("row", "col", "py", "px")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _band_plane(buf: bytes, h: int, w: int, band: Optional[int]) -> np.ndarray:
    """Decode one ``h x w x B`` uint8 canvas (band count ``B`` inferred from
    ``len(buf)``): the ``(h, w)`` plane of ``band``, or the whole
    ``(h, w, B)`` array for ``band=None``.  A ragged buffer or a band
    outside ``[0, B)`` raises ``ValueError`` instead of reading other bytes."""
    h, w = int(h), int(w)
    nb = len(buf) // (h * w)
    if nb * h * w != len(buf) or (band is not None and not 0 <= band < nb):
        raise ValueError(
            f"canvas of {len(buf)} bytes is not {h}x{w}xB with band {band} present"
        )
    a = np.frombuffer(buf, dtype=np.uint8).reshape(h, w, nb)
    return a if band is None else a[:, :, band]


_MOMENTS = ["n_px", "sum_val", "min_val", "max_val"]


def _moments(v: np.ndarray) -> dict:
    """One window's 5-int partial (the 5th, the window count, is the final
    groupBy's count): pixel count, sum, min, max."""
    return {
        f: np.array([x], np.int64)
        for f, x in zip(_MOMENTS, (v.size, v.sum(dtype=np.int64), v.min(), v.max()))
    }


def _classes(v: np.ndarray) -> dict:
    """One window's SPARSE bincount: one row per class value present."""
    bc = np.bincount(v.ravel(), minlength=256)
    nz = np.nonzero(bc)[0]
    return {"class": nz.astype(np.int32), "n_px": bc[nz].astype(np.int64)}


def _check_ring(rx, ry, zid) -> None:
    """Raise ``ValueError`` unless (rx, ry) is a ring with area."""
    rx = np.asarray(rx, dtype=np.float64)
    ry = np.asarray(ry, dtype=np.float64)
    if len(rx) != len(ry) or len(rx) < 3:
        raise ValueError(
            f"zone {zid}: ring needs >= 3 vertices and equal-length "
            f"poly_x/poly_y (got {len(rx)} and {len(ry)})"
        )
    if not abs(np.dot(rx, np.roll(ry, -1)) - np.dot(np.roll(rx, -1), ry)) > 0.0:
        raise ValueError(f"zone {zid}: ring has no area (signed area is 0 or NaN)")


def _ring_mask(rx, ry, cx: np.ndarray, cy: np.ndarray) -> np.ndarray:
    """(len(cy), len(cx)) even-odd ray-cast mask of the pixel centres
    ``cx x cy`` against one ring (checked by ``_check_ring``) —
    ``pip._points_in_prepared``, so any simple ring of either orientation
    works."""
    ring = geomkernels._close_ring(np.column_stack([rx, ry]))
    xs = np.broadcast_to(cx, (len(cy), len(cx))).ravel()
    ys = np.repeat(cy, len(cx))
    return pip._points_in_prepared([[ring]], xs, ys).reshape(len(cy), len(cx))


def _zonal(
    tiles: DataFrame,
    zones: DataFrame,
    tp: PyramidConfig,
    zoom: exprs.ZoomLike,
    zone_id_col: str,
    bbox: tuple,
    band: int,
    max_cover_tiles: Optional[int],
    ring: tuple = (),
    classes: bool = False,
) -> DataFrame:
    """The zonal engine behind ``zonal_stats``, ``zonal_poly_stats`` and
    ``zonal_class_counts``: window -> kernel -> aggregate.

    Each zone's ``bbox`` (left, bottom, right, top columns) covers onto
    tiles through ONE ``_windows`` pass (reference ``tiles_from_bounds``
    semantics, the compose path's floor/ceil window rule), and the
    (zone, tile, window) table BROADCASTS into the canvas join, so tile
    bytes are never shuffled: canvases stream scan -> Arrow kernel exactly
    once.  Per window, the kernel slices band ``band``, masks it (the whole
    window, or with ``ring`` = (poly_x, poly_y) columns the pixels whose
    CENTRE ``_tl + (c0 + j + 0.5)*px``, ``_tt - (r0 + i + 0.5)*py`` the
    ring ray-casts inside; a window masking no pixel emits nothing) and
    reduces it to the 5-int moments, or with ``classes`` to its sparse
    bincount.  The only corpus-wide exchange is the final groupBy on the
    zone (or (zone, class)) over one partial per covered pair, so a zone
    overlapping T tiles costs T pair rows, never a canvas copy per
    zone-pixel.  ``max_cover_tiles`` guards runaway zone bboxes."""
    win = _nonempty(
        _windows(
            zones.select(zone_id_col, *bbox, *ring), tp, zoom, *bbox,
            max_cover_tiles=max_cover_tiles,
        )
    )
    ring_cols = (
        [F.col(ring[0]).alias("_rx"), F.col(ring[1]).alias("_ry"), "_tl", "_tt"]
        if ring else []
    )
    win_cols = ["win_col_off", "win_row_off", "win_width", "win_height"]
    win = win.select(F.col(zone_id_col).alias("_zid"), "row", "col", *win_cols, *ring_cols)
    joined = (
        tiles.select("row", "col", "tile_w", "tile_h", "bytes")
        .join(F.broadcast(win), ["row", "col"])
        .drop("row", "col")
    )
    if classes:
        reduce, fields = _classes, [("class", T.IntegerType()), ("n_px", T.LongType())]
    else:
        reduce, fields = _moments, [(f, T.LongType()) for f in _MOMENTS]
    part_schema = T.StructType(
        [T.StructField("_zid", zones.schema[zone_id_col].dataType)]
        + [T.StructField(f, t) for f, t in fields]
    )
    band_i = int(band)
    if ring:
        pxs = float(tp.pixel_x_size(int(zoom)))
        pys = float(tp.pixel_y_size(int(zoom)))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keep, parts = [], []
            for i in range(len(pdf)):
                c0, r0, cw, rh = (int(pdf[c].iat[i]) for c in win_cols)
                h, w = pdf["tile_h"].iat[i], pdf["tile_w"].iat[i]
                v = _band_plane(pdf["bytes"].iat[i], h, w, band_i)[r0 : r0 + rh, c0 : c0 + cw]
                if ring:
                    # pixel centres in world coords — the EXACT expression
                    # the oracle mirrors
                    cx = pdf["_tl"].iat[i] + (c0 + np.arange(cw, dtype=np.float64) + 0.5) * pxs
                    cy = pdf["_tt"].iat[i] - (r0 + np.arange(rh, dtype=np.float64) + 0.5) * pys
                    v = v[_ring_mask(pdf["_rx"].iat[i], pdf["_ry"].iat[i], cx, cy)]
                    if not v.size:
                        continue
                part = reduce(v)
                keep += [i] * len(part["n_px"])
                parts.append(part)
            if parts:
                out = {"_zid": pdf["_zid"].iloc[keep].values}
                for f, _ in fields:
                    out[f] = np.concatenate([p[f] for p in parts])
                yield pd.DataFrame(out)

    part = joined.mapInPandas(kernel, schema=part_schema)
    if classes:
        return (
            part.groupBy("_zid", "class")
            .agg(F.sum("n_px").alias("n_px"))
            .select(F.col("_zid").alias(zone_id_col), "class", "n_px")
        )
    return (
        part.groupBy("_zid")
        .agg(
            F.count(F.lit(1)).alias("n_tiles"),
            F.sum("n_px").alias("n_px"),
            F.sum("sum_val").alias("sum_val"),
            F.min("min_val").alias("min_val"),
            F.max("max_val").alias("max_val"),
        )
        .select(
            F.col("_zid").alias(zone_id_col),
            "n_tiles",
            *_MOMENTS,
            (F.col("sum_val").cast("double") / F.col("n_px").cast("double")).alias(
                "mean_val"
            ),
        )
    )


def zonal_stats(
    tiles: DataFrame,
    zones: DataFrame,
    tp: PyramidConfig,
    zoom: int,
    zone_id_col: str = "zone_id",
    left: str = "left",
    bottom: str = "bottom",
    right: str = "right",
    top: str = "top",
    band: int = 0,
    max_cover_tiles: Optional[int] = None,
) -> DataFrame:
    """Zonal statistics: per-zone pixel aggregates over a tiled raster —
    the raster-analytics counterpart of ``pip_join`` (vector zones x raster
    pyramid instead of vector points x polygons).  Each zone's bbox is
    covered onto tiles, the pixel window of the zone inside each tile is
    the ``raster_tile_windows`` affine-inverse mapping, and the stats run
    over band ``band`` of every pixel whose cell intersects the zone
    (window semantics — floor/ceil of the edge offsets, the same rule the
    compose path uses).

    Input ``tiles``: (row, col, tile_w, tile_h, bytes) canvases
    (``compose_tiles`` output shape; band count inferred per row from
    ``len(bytes) / (tile_w * tile_h)``).  Input ``zones``: one bbox per
    zone.  Output: one row per zone with >= 1 covered pixel —
    (zone_id, n_tiles, n_px, sum_val, min_val, max_val, mean_val), with
    mean_val = sum/count as one exact IEEE double division.  Scale shape:
    :func:`_zonal` (zone windows broadcast onto the canvas scan, 5-int
    partials per (zone, tile) pair, one groupBy on zone_id)."""
    return _zonal(
        tiles, zones, tp, zoom, zone_id_col, (left, bottom, right, top), band,
        max_cover_tiles,
    )


def zonal_poly_stats(
    tiles: DataFrame,
    zones: DataFrame,
    tp: PyramidConfig,
    zoom: exprs.ZoomLike,
    zone_id_col: str = "zone_id",
    poly_x_col: str = "poly_x",
    poly_y_col: str = "poly_y",
    band: int = 0,
    max_cover_tiles: Optional[int] = None,
) -> DataFrame:
    """Zonal statistics over POLYGON zones — the polygon×raster counterpart
    of :func:`zonal_stats` (which takes bboxes): a pixel belongs to the
    zone iff its CENTER is inside the ring by the even-odd ray-cast of
    ``pip_join`` (``pip._points_in_prepared``: per edge, a crossing when
    ``(y0 > cy) != (y1 > cy)`` and ``cx < x0 + (cy-y0)*dx/dy``).  The test
    is a fixed IEEE double expression, so numpy and DuckDB produce
    bit-identical masks — the oracle needs NO tolerance even though the
    zones are rotated geometry.  Boundary pixel centres follow ray-cast
    parity.

    Input ``zones``: (zone_id, poly_x array<double>, poly_y array<double>)
    — any simple ring, concave or convex, of either orientation, with or
    without a repeated closing vertex.  Every ring is checked on the
    driver before the canvas join (the zones are collected; they are
    broadcast anyway), so a ring with no area raises ``ValueError`` even
    where none of its windows meets a tile, instead of reading as "no
    pixels": poly_x/poly_y of unequal length, fewer than 3 vertices, or a
    signed area that is not > 0 in absolute value (collinear, or NaN).  Output
    and scale shape are those of zonal_stats: the zone bbox is derived
    natively from the ring and :func:`_zonal` carries the ring with each
    broadcast window; ``n_tiles`` counts the windows with >= 1 pixel
    inside the ring."""
    for zid, rx, ry in zones.select(zone_id_col, poly_x_col, poly_y_col).collect():
        _check_ring(rx, ry, zid)
    xs, ys = F.col(poly_x_col), F.col(poly_y_col)
    zb = zones.select(
        zone_id_col,
        poly_x_col,
        poly_y_col,
        F.array_min(xs).alias("_zl"),
        F.array_min(ys).alias("_zb"),
        F.array_max(xs).alias("_zr"),
        F.array_max(ys).alias("_zt"),
    )
    return _zonal(
        tiles, zb, tp, zoom, zone_id_col, ("_zl", "_zb", "_zr", "_zt"), band,
        max_cover_tiles, ring=(poly_x_col, poly_y_col),
    )


def zonal_class_counts(
    tiles: DataFrame,
    zones: DataFrame,
    tp: PyramidConfig,
    zoom: exprs.ZoomLike,
    zone_id_col: str = "zone_id",
    left: str = "left",
    bottom: str = "bottom",
    right: str = "right",
    top: str = "top",
    band: int = 0,
    max_cover_tiles: Optional[int] = None,
) -> DataFrame:
    """Zonal CLASS histogram: per-zone pixel counts per category value —
    the categorical companion of :func:`zonal_stats` (land-cover
    composition inside each zone: how many pixels of each class code).
    Window semantics, inputs, and the scale shape are identical to
    zonal_stats, but the kernel reduces each (zone, tile) window to its
    SPARSE bincount (≤256 rows per pair, usually far fewer) instead of
    5-int moments, and the final exchange groups on (zone, class).

    Output: (zone_id, class, n_px) — one row per class present in the
    zone; all integers, so the cross-engine oracle is hash-exact."""
    return _zonal(
        tiles, zones, tp, zoom, zone_id_col, (left, bottom, right, top), band,
        max_cover_tiles, classes=True,
    )


def zonal_majority(
    tiles: DataFrame,
    zones: DataFrame,
    tp: PyramidConfig,
    zoom: exprs.ZoomLike,
    zone_id_col: str = "zone_id",
    **kwargs,
) -> DataFrame:
    """Majority (mode) class per zone — the classic categorical zonal
    product (dominant land-cover class), a pure composition over
    :func:`zonal_class_counts`: one window per zone picks the class with
    the highest pixel count, ties broken by the SMALLEST class code
    (deterministic, engine-portable).  Output: (zone_id, majority_class,
    n_px, n_zone_px, frac) with ``frac`` the single exact IEEE division
    n_px/n_zone_px.  Adds one zone-keyed window + groupBy over the
    (zone, class) table — ≤256 rows per zone, never pixel-sized."""
    from pyspark.sql import Window

    cc = zonal_class_counts(tiles, zones, tp, zoom, zone_id_col, **kwargs)
    w = Window.partitionBy(zone_id_col).orderBy(
        F.col("n_px").desc(), F.col("class").asc()
    )
    tot = Window.partitionBy(zone_id_col)
    return (
        cc.withColumn("_rn", F.row_number().over(w))
        .withColumn("n_zone_px", F.sum("n_px").over(tot))
        .filter(F.col("_rn") == 1)
        .select(
            zone_id_col,
            F.col("class").alias("majority_class"),
            "n_px",
            "n_zone_px",
            (F.col("n_px").cast("double") / F.col("n_zone_px").cast("double"))
            .alias("frac"),
        )
    )


_CANVAS_SCHEMA = T.StructType(
    [
        T.StructField("row", T.LongType()),
        T.StructField("col", T.LongType()),
        T.StructField("tile_w", T.IntegerType()),
        T.StructField("tile_h", T.IntegerType()),
        T.StructField("bytes", T.BinaryType()),
    ]
)

_FOCAL_PIXEL_SCHEMA = T.StructType(
    [
        T.StructField("row", T.LongType()),
        T.StructField("col", T.LongType()),
        T.StructField("py", T.IntegerType()),
        T.StructField("px", T.IntegerType()),
        T.StructField("n_nbr", T.LongType()),
        T.StructField("sum_nbr", T.LongType()),
        T.StructField("min_nbr", T.IntegerType()),
        T.StructField("max_nbr", T.IntegerType()),
        T.StructField("mean_nbr", T.LongType()),
    ]
)


def _halo_grouped(
    tiles: DataFrame, ts: int, r: int, band_i: int, mw: int, mh: int, op: str
) -> DataFrame:
    """Shared halo-exchange front half of the stencil operators: each tile
    emits its band plane plus 8 border strips of width ``r`` addressed to
    its grid neighbors (column wrap, row clamp — reference ``_tile.py:
    256-263``), then ONE groupBy(row, col) collects the <= 9 bounded parts
    per output tile.  ``focal_stats``, ``upsample_children``,
    ``focal_gradient`` and ``hillshade`` share this exchange (via
    :func:`_stencil`) and differ only in the per-tile kernel."""
    part_schema = T.StructType(
        [
            T.StructField("row", T.LongType()),
            T.StructField("col", T.LongType()),
            T.StructField("sy", T.IntegerType()),
            T.StructField("sx", T.IntegerType()),
            T.StructField("h", T.IntegerType()),
            T.StructField("w", T.IntegerType()),
            T.StructField("b", T.BinaryType()),
        ]
    )

    def strips(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        dirs = [(dy, dx) for dy in (-1, 0, 1) for dx in (-1, 0, 1) if dy or dx]
        for pdf in batches:
            if not len(pdf):
                continue
            o_row, o_col, o_sy, o_sx, o_h, o_w, o_b = [], [], [], [], [], [], []
            tw = pdf["tile_w"].to_numpy()
            th = pdf["tile_h"].to_numpy()
            rows = pdf["row"].to_numpy()
            cols = pdf["col"].to_numpy()
            for i in range(len(pdf)):
                buf = pdf["bytes"].iat[i]
                h, w = int(th[i]), int(tw[i])
                if h != ts or w != ts:
                    raise ValueError(
                        f"{op} expects uniform {ts}x{ts} tiles, got {h}x{w}"
                    )
                a = _band_plane(buf, h, w, band_i)
                tr, tc = int(rows[i]), int(cols[i])
                o_row.append(tr)
                o_col.append(tc)
                o_sy.append(0)
                o_sx.append(0)
                o_h.append(ts)
                o_w.append(ts)
                o_b.append(np.ascontiguousarray(a).tobytes())
                for dy, dx in dirs:
                    dr = tr + dy
                    if dr < 0 or dr >= mh:
                        continue
                    dc = (tc + dx) % mw
                    rs = slice(ts - r, ts) if dy == 1 else (
                        slice(0, r) if dy == -1 else slice(0, ts)
                    )
                    cs = slice(ts - r, ts) if dx == 1 else (
                        slice(0, r) if dx == -1 else slice(0, ts)
                    )
                    slab = np.ascontiguousarray(a[rs, cs])
                    o_row.append(dr)
                    o_col.append(dc)
                    o_sy.append(-dy)
                    o_sx.append(-dx)
                    o_h.append(slab.shape[0])
                    o_w.append(slab.shape[1])
                    o_b.append(slab.tobytes())
            yield pd.DataFrame(
                {
                    "row": np.asarray(o_row, dtype=np.int64),
                    "col": np.asarray(o_col, dtype=np.int64),
                    "sy": np.asarray(o_sy, dtype=np.int32),
                    "sx": np.asarray(o_sx, dtype=np.int32),
                    "h": np.asarray(o_h, dtype=np.int32),
                    "w": np.asarray(o_w, dtype=np.int32),
                    "b": o_b,
                }
            )

    parts = tiles.select("row", "col", "tile_w", "tile_h", "bytes").mapInPandas(
        strips, schema=part_schema
    )
    return parts.groupBy("row", "col").agg(
        F.collect_list(F.struct("sy", "sx", "h", "w", "b")).alias("_parts")
    )


def _halo_planes(pdf: pd.DataFrame, ts: int, r: int):
    """Yield (tile_row, tile_col, P, M) per assembled group: the (ts+2r)^2
    padded value plane and its availability mask.  Halo-only ghost groups
    (dest tile not materialized — no center part) are skipped."""
    n = ts + 2 * r
    for gi in range(len(pdf)):
        kids = pdf["_parts"].iat[gi]
        if not any(k["sy"] == 0 and k["sx"] == 0 for k in kids):
            continue
        P = np.zeros((n, n), dtype=np.uint8)
        M = np.zeros((n, n), dtype=np.uint8)
        for k in kids:
            h, w = int(k["h"]), int(k["w"])
            sy, sx = int(k["sy"]), int(k["sx"])
            y0 = 0 if sy == -1 else (r if sy == 0 else r + ts)
            x0 = 0 if sx == -1 else (r if sx == 0 else r + ts)
            slab = np.frombuffer(k["b"], dtype=np.uint8).reshape(h, w)
            P[y0 : y0 + h, x0 : x0 + w] = slab
            M[y0 : y0 + h, x0 : x0 + w] = 1
        yield int(pdf["row"].iat[gi]), int(pdf["col"].iat[gi]), P, M


def _check_emit(emit: str, sample_mod: int, sample_off: int) -> tuple:
    """Validate the shared ``emit``/sampling arguments; returns (mod, off)."""
    if emit not in ("canvas", "pixels"):
        raise ValueError("emit must be 'canvas' or 'pixels'")
    mod, off = int(sample_mod), int(sample_off)
    if emit == "pixels" and not 0 <= off < mod:
        raise ValueError("sample_off must be in [0, sample_mod)")
    return mod, off


_NP_DTYPES = {
    T.LongType(): np.int64,
    T.IntegerType(): np.int32,
    T.DoubleType(): np.float64,
    T.BinaryType(): object,
}


def _emit_tiles(
    df: DataFrame,
    kernel,
    emit: str,
    sample_mod: int,
    sample_off: int,
    pixel_schema: T.StructType,
) -> DataFrame:
    """The one output path of the per-tile raster kernels: ``mapInPandas``
    over ``df`` where ``kernel(pdf)`` yields ``(row, col, canvas, planes,
    keep)`` per output tile — a uint8 ``(h, w)`` canvas, a dict of
    ``(h, w)`` planes named after ``pixel_schema``'s value fields, and an
    optional boolean ``(h, w)`` mask of the pixels to keep (None = all).
    ``emit='canvas'`` writes one (row, col, tile_w, tile_h, bytes) row per
    tile; ``emit='pixels'`` writes (row, col, py, px, *planes) for every
    kept pixel whose linear index ``py*w + px`` is ``sample_off`` mod
    ``sample_mod``.  Columns are cast to the output schema's types."""
    mod, off = _check_emit(emit, sample_mod, sample_off)
    schema = _CANVAS_SCHEMA if emit == "canvas" else pixel_schema
    dtypes = [(f.name, _NP_DTYPES[f.dataType]) for f in schema.fields]
    # one scalar per tile (canvas) vs one sampled array per tile (pixels)
    stack = np.asarray if emit == "canvas" else np.concatenate

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cols: dict = {name: [] for name, _ in dtypes}
            for row, col, canvas, planes, keep in kernel(pdf):
                h, w = canvas.shape
                if emit == "canvas":
                    vals = {"row": row, "col": col, "tile_w": w, "tile_h": h,
                            "bytes": canvas.tobytes()}
                else:
                    lin = np.arange(off, h * w, mod, dtype=np.int64)
                    if keep is not None:
                        lin = lin[keep.ravel()[lin]]
                    vals = {"row": np.full(len(lin), row), "py": lin // w,
                            "col": np.full(len(lin), col), "px": lin % w}
                    vals.update((k, v.ravel()[lin]) for k, v in planes.items())
                for name, _ in dtypes:
                    cols[name].append(vals[name])
            if cols["row"]:
                yield pd.DataFrame(
                    {name: stack(cols[name], dtype=dt) for name, dt in dtypes}
                )

    return df.mapInPandas(run, schema=schema)


def _stencil(
    tiles: DataFrame,
    tp: PyramidConfig,
    zoom: int,
    r: int,
    band: int,
    op: str,
    tile_kernel,
    emit: str,
    sample_mod: int,
    sample_off: int,
    pixel_schema: T.StructType,
) -> DataFrame:
    """Halo-exchange stencil: :func:`_halo_grouped` + :func:`_halo_planes` +
    :func:`_emit_tiles`.  ``tile_kernel(row, col, P, M)`` maps one padded
    ``(ts+2r)^2`` plane and its availability mask to the ``_emit_tiles``
    tuples of that tile's outputs."""
    ts = int(tp.tile_size) * int(tp.metatiling)
    grouped = _halo_grouped(
        tiles, ts, r, int(band), tp.matrix_width(zoom), tp.matrix_height(zoom), op
    )

    def kernel(pdf: pd.DataFrame):
        for row, col, P, M in _halo_planes(pdf, ts, r):
            yield from tile_kernel(row, col, P, M)

    return _emit_tiles(grouped, kernel, emit, sample_mod, sample_off, pixel_schema)


def _box_sum(A: np.ndarray, win: int) -> np.ndarray:
    """Exact int64 sum of every ``win x win`` window of ``A`` (valid mode:
    ``win - 1`` smaller per axis) from one summed-area table — O(A.size),
    no per-window Python."""
    S = np.zeros((A.shape[0] + 1, A.shape[1] + 1), dtype=np.int64)
    S[1:, 1:] = A.astype(np.int64).cumsum(0).cumsum(1)
    return S[win:, win:] - S[:-win, win:] - S[win:, :-win] + S[:-win, :-win]


def _sobel(P: np.ndarray, M: np.ndarray) -> tuple:
    """Integer Sobel/Horn numerators (gx, gy) of a 1-px-halo plane, plus
    the mask of pixels whose 3x3 window is fully materialized."""
    A = P.astype(np.int64)
    gx = (
        A[:-2, 2:] + 2 * A[1:-1, 2:] + A[2:, 2:]
        - A[:-2, :-2] - 2 * A[1:-1, :-2] - A[2:, :-2]
    )
    gy = (
        A[2:, :-2] + 2 * A[2:, 1:-1] + A[2:, 2:]
        - A[:-2, :-2] - 2 * A[:-2, 1:-1] - A[:-2, 2:]
    )
    return gx, gy, _box_sum(M, 3) == 9


def focal_stats(
    tiles: DataFrame,
    tp: PyramidConfig,
    zoom: int,
    radius: int = 1,
    band: int = 0,
    emit: str = "canvas",
    sample_mod: int = 1,
    sample_off: int = 0,
) -> DataFrame:
    """Focal (moving-window) statistics over a tiled raster with cross-tile
    HALO EXCHANGE — the distributed stencil primitive.  Each output pixel
    aggregates the ``(2*radius+1)**2`` neighborhood around it, and
    neighborhoods crossing tile boundaries see the true pixels of the
    adjacent tiles, not an edge clamp.  Neighbor addressing follows the
    reference's tile topology (``_tile.py:256-263``): columns wrap by one
    matrix width (antimeridian), rows clamp at the matrix edge.  Pixels
    whose window extends past the edge of the MATERIALIZED raster (grid
    edge, or a tile simply absent from ``tiles``) aggregate over the
    available pixels only — ``n_nbr`` carries the actual window population
    (GDAL focal-NODATA semantics), so partial-window stats stay exact.

    Input ``tiles``: (row, col, tile_w, tile_h, bytes) canvases, mt=1
    uniform dims (``compose_tiles`` / ``overview_level`` shape; band count
    inferred per row).  ``emit='canvas'`` returns one single-band canvas
    per input tile whose pixels are the TRUNCATED focal mean
    (``sum_nbr // n_nbr`` — exact integer division, fits uint8 by
    construction); ``emit='pixels'`` returns one row per sampled pixel
    (linear index ``py*ts+px % sample_mod == sample_off``) carrying
    n/sum/min/max/mean — the fully SQL-oracle-able surface the driver
    gate uses.

    Scale shape: tile canvases are NEVER shipped to neighbors — each tile
    ships only its ``radius``-wide border strips (8 messages of
    ``O(radius*ts)`` bytes; for radius=2, ts=256 the halo traffic is ~3%
    of the band bytes), so the single exchange this operator performs
    carries one band-extracted canvas + 8 thin strips per tile.  The
    assemble side is a BOUNDED ``collect_list`` (<= 9 structs, ~ts^2+
    4*radius*ts bytes) + ``mapInPandas`` — the overview-chain pattern,
    thousands of groups per Arrow batch, no per-group pandas frame tax.
    Window sums/counts are an O(ts^2) summed-area table (exact int64, no
    per-pixel Python); min/max ride numpy sliding windows over uint8.
    On a bucketed tile store (bucketBy(row, col)) the center canvas leg
    of the exchange co-locates and only the strips move.
    """
    ts = int(tp.tile_size) * int(tp.metatiling)
    r = int(radius)
    if not 0 < r < ts:
        raise ValueError(f"radius must be in [1, {ts - 1}]")
    win = 2 * r + 1

    def win_extreme(plane: np.ndarray, op) -> np.ndarray:
        # separable sliding min/max: reduce rows then columns — 2*(2r+1)
        # full-SIMD uint8 slice ops vs (2r+1)^2 strided reads per output
        # element for sliding_window_view.amin (measured ~2.8 ms/tile there,
        # the whole per-tile budget)
        acc = plane[0:ts, :].copy()
        for dy in range(1, win):
            op(acc, plane[dy : dy + ts, :], out=acc)
        out = acc[:, 0:ts].copy()
        for dx in range(1, win):
            op(out, acc[:, dx : dx + ts], out=out)
        return out

    def tile_kernel(row, col, P, M):
        sums = _box_sum(P * M, win)
        cnts = _box_sum(M, win)
        means = sums // cnts  # cnts >= 1: center pixel always present
        planes = {
            "n_nbr": cnts,
            "sum_nbr": sums,
            "min_nbr": win_extreme(np.where(M, P, np.uint8(255)), np.minimum),
            "max_nbr": win_extreme(np.where(M, P, np.uint8(0)), np.maximum),
            "mean_nbr": means,
        }
        yield row, col, means.astype(np.uint8), planes, None

    return _stencil(
        tiles, tp, zoom, r, band, "focal_stats", tile_kernel,
        emit, sample_mod, sample_off, _FOCAL_PIXEL_SCHEMA,
    )


_DIFF_STATS_SCHEMA = T.StructType(
    [
        T.StructField("row", T.LongType()),
        T.StructField("col", T.LongType()),
        T.StructField("n_px", T.LongType()),
        T.StructField("n_diff", T.LongType()),
        T.StructField("sum_abs", T.LongType()),
        T.StructField("max_abs", T.IntegerType()),
    ]
)


def diff_tiles(
    tiles_a: DataFrame, tiles_b: DataFrame, band: int | None = 0
) -> DataFrame:
    """Temporal change detection between two epochs of a tiled raster:
    inner-join the epochs on the tile key and reduce each canvas pair to
    per-tile change statistics (pixel count, changed-pixel count, sum and
    max of |delta|) — the planning surface a re-survey / re-compose
    pipeline filters on before it moves any imagery.

    Scale shape: ONE equi-join on (row, col) is the only data movement —
    on a store bucketed by (row, col) both sides co-locate and no canvas
    byte shuffles at all; the delta kernel is a vectorized uint8->int16
    subtract per pair inside ``mapInPandas`` (no per-group pandas frame:
    whole Arrow batches of joined pairs reduce in one pass).  Mean |delta|
    = sum_abs / n_px downstream — kept as exact integers here so the
    output is engine-exact.

    ``band=None`` compares ENTIRE canvases (every band, n_px counts
    pixel-bands) — the shape the pyramid-consistency audit uses
    (``diff_tiles(parents, overview_level(children), band=None)``:
    n_diff == 0 exactly for parents that equal the box filter of their
    children)."""
    band_i = None if band is None else int(band)

    def delta(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            n = len(pdf)
            n_px = np.empty(n, dtype=np.int64)
            n_diff = np.empty(n, dtype=np.int64)
            sum_abs = np.empty(n, dtype=np.int64)
            max_abs = np.empty(n, dtype=np.int32)
            th, tw = pdf["tile_h"].to_numpy(), pdf["tile_w"].to_numpy()
            for k in range(n):
                a, b = (
                    _band_plane(pdf[c].iat[k], th[k], tw[k], band_i).astype(np.int16)
                    for c in ("_ba", "_bb")
                )
                if a.shape != b.shape:
                    raise ValueError(
                        f"epoch canvases disagree on shape: {a.shape} vs "
                        f"{b.shape}"
                    )
                d = np.abs(a - b)
                n_px[k] = d.size
                n_diff[k] = int(np.count_nonzero(d))
                sum_abs[k] = int(d.sum(dtype=np.int64))
                max_abs[k] = int(d.max()) if d.size else 0
            yield pd.DataFrame(
                {
                    "row": pdf["row"].to_numpy(),
                    "col": pdf["col"].to_numpy(),
                    "n_px": n_px,
                    "n_diff": n_diff,
                    "sum_abs": sum_abs,
                    "max_abs": max_abs,
                }
            )

    a = tiles_a.select(
        "row", "col", "tile_w", "tile_h", F.col("bytes").alias("_ba")
    )
    b = tiles_b.select(
        F.col("row").alias("_rb"),
        F.col("col").alias("_cb"),
        F.col("bytes").alias("_bb"),
    )
    joined = a.join(
        b, (a["row"] == b["_rb"]) & (a["col"] == b["_cb"]), "inner"
    ).select("row", "col", "tile_w", "tile_h", "_ba", "_bb")
    return joined.mapInPandas(delta, schema=_DIFF_STATS_SCHEMA)


def global_histogram(tiles: DataFrame, band: int = 0) -> DataFrame:
    """Global 256-bin value histogram over one band of a tiled raster —
    pass 1 of the classic two-pass contrast stretch.  Map-side combine is
    explicit: every Arrow batch reduces ALL its tiles into one 256-long
    numpy bincount and emits at most 256 tiny rows, so the only shuffle
    this op performs moves O(256 x n_partitions) rows no matter how many
    petabytes of canvas bytes were scanned.  Returns (val, n_px) for the
    values present.  Band layout checks are ``_band_plane``'s (per-row
    inferred band count; a ragged canvas or a band outside [0, B) raises)."""
    band_i = int(band)

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc = np.zeros(256, dtype=np.int64)
        seen = False
        for pdf in batches:
            for buf, h, w in zip(pdf["bytes"], pdf["tile_h"], pdf["tile_w"]):
                a = _band_plane(buf, h, w, band_i)
                acc += np.bincount(a.ravel(), minlength=256)
                seen = True
        if seen:
            vals = np.nonzero(acc)[0]
            yield pd.DataFrame(
                {"val": vals.astype(np.int32), "n": acc[vals]}
            )

    part = tiles.select("tile_w", "tile_h", "bytes").mapInPandas(
        partials, "val int, n long"
    )
    return part.groupBy("val").agg(F.sum("n").alias("n_px"))


def stretch_percentiles(
    tiles: DataFrame, band: int = 0, lo_pct: int = 2, hi_pct: int = 98
) -> tuple:
    """Integer-exact percentile cut points from the global histogram:
    ``p_q`` = the smallest value whose cumulative pixel count reaches
    ``ceil(q * total / 100)`` — pure integer arithmetic, so any engine
    derives the identical cut.  Collects the <= 256-row histogram to the
    driver (bounded, the documented driver-quantizer pattern)."""
    rows = sorted(
        (r["val"], r["n_px"]) for r in global_histogram(tiles, band).collect()
    )
    total = sum(n for _, n in rows)
    if total == 0:
        raise ValueError("stretch_percentiles: empty raster")
    out = []
    for q in (int(lo_pct), int(hi_pct)):
        need = -((-q * total) // 100)  # ceil(q*total/100), exact ints
        cum = 0
        pick = rows[-1][0]
        for v, n in rows:
            cum += n
            if cum >= need:
                pick = v
                break
        out.append(int(pick))
    return out[0], out[1]


_STRETCH_PIXEL_SCHEMA = T.StructType(
    [
        T.StructField("row", T.LongType()),
        T.StructField("col", T.LongType()),
        T.StructField("py", T.IntegerType()),
        T.StructField("px", T.IntegerType()),
        T.StructField("v_in", T.IntegerType()),
        T.StructField("v_out", T.IntegerType()),
    ]
)


def contrast_stretch(
    tiles: DataFrame,
    band: int = 0,
    lo_pct: int = 2,
    hi_pct: int = 98,
    emit: str = "canvas",
    sample_mod: int = 1,
    sample_off: int = 0,
) -> DataFrame:
    """Two-pass global percentile contrast stretch — the standard display /
    normalization op for satellite and microscopy rasters.  Pass 1
    aggregates the global histogram (one O(256)-row shuffle, see
    ``global_histogram``); the integer cut points ``p_lo``/``p_hi`` then
    ride into the pass-2 remap kernel as plain Python ints (two scalars
    broadcast in the task closure — canvas bytes are read twice but never
    shuffled at all).  Remap is integer-exact in any engine:

        v_out = clamp(((v - p_lo) * 255) // (p_hi - p_lo), 0, 255)

    (truncating floor division; degenerate ``p_hi == p_lo`` maps to 0/255
    by threshold).  ``emit='canvas'`` rewrites the band as a uint8 canvas
    per tile; ``emit='pixels'`` returns the sampled (v_in, v_out) integer
    surface the driver oracle re-derives — histogram, cut points, and
    remap all in exact integer SQL."""
    _check_emit(emit, sample_mod, sample_off)  # fail before the pass-1 job
    band_i = int(band)
    p_lo, p_hi = stretch_percentiles(tiles, band_i, lo_pct, hi_pct)
    span = p_hi - p_lo
    lut = np.arange(256, dtype=np.int64)
    if span > 0:
        lut = np.clip((lut - p_lo) * 255 // span, 0, 255)
    else:
        lut = np.where(lut >= p_hi, 255, 0).astype(np.int64)
    lut8 = lut.astype(np.uint8)

    def kernel(pdf: pd.DataFrame):
        cols = (pdf[c] for c in ("row", "col", "tile_h", "tile_w", "bytes"))
        for row, col, h, w, buf in zip(*cols):
            a = _band_plane(buf, h, w, band_i)
            yield int(row), int(col), lut8[a], {"v_in": a, "v_out": lut[a]}, None

    return _emit_tiles(
        tiles.select("row", "col", "tile_w", "tile_h", "bytes"),
        kernel, emit, sample_mod, sample_off, _STRETCH_PIXEL_SCHEMA,
    )


_UPSAMPLE_PIXEL_SCHEMA = T.StructType(
    [
        T.StructField("row", T.LongType()),
        T.StructField("col", T.LongType()),
        T.StructField("py", T.IntegerType()),
        T.StructField("px", T.IntegerType()),
        T.StructField("num", T.LongType()),
        T.StructField("val", T.IntegerType()),
    ]
)


def upsample_children(
    tiles: DataFrame,
    tp: PyramidConfig,
    zoom: int,
    band: int = 0,
    emit: str = "canvas",
    sample_mod: int = 1,
    sample_off: int = 0,
) -> DataFrame:
    """Overzoom: serve zoom+1 tiles from a zoom-level raster by 2x bilinear
    upsampling — the inverse of ``overview_level`` and the op a tile server
    runs when a client asks for a zoom the pyramid doesn't materialize
    (reference tile topology: child (2*row+dy, 2*col+dx), ``_tile.py``
    get_children).  Each parent tile emits its FOUR children at zoom+1.

    Half-pixel-center bilinear at exactly 2x degenerates to fixed 1/4-3/4
    weights, so the whole kernel is integer: child pixel (i, j) reads the
    2x2 parent window around (i/2 - 0.25, j/2 - 0.25) with per-axis weights
    (1, 3) for even i and (3, 1) for odd i, ``num`` = the 16x numerator
    (<= 16*255, exact int), value = (num + 8) // 16 (round-half-up).  That
    integer form is what makes the DuckDB value oracle possible.

    Child pixels on a parent-tile border read one pixel of the adjacent
    parent tile, so this shares ``focal_stats``'s cross-tile HALO EXCHANGE
    (radius=1: band plane + 8 one-pixel strips per tile, column wrap / row
    clamp addressing).  Where the window crosses the edge of the
    MATERIALIZED raster the missing parent pixel is edge-REPLICATED, applied
    separably (rows clamp first, then columns) so it equals per-axis
    coordinate clamping in global pixel space — the rule the oracle mirrors.

    Scale shape: one exchange of O(ts) strip bytes per tile; the 4x row
    fan-out happens INSIDE the Arrow kernel (numpy separable upsample, two
    full-SIMD passes), never as a Spark-side explode of canvas bytes.  On a
    bucketed tile store only the strips move; serving z+k chains k of these
    with no intermediate pyramid storage.  ``emit='pixels'`` returns the
    sampled integer surface (child tile coords, py/px, num, val) for the
    driver gate; ``emit='canvas'`` returns the four uint8 child canvases.
    """

    def tile_kernel(row, col, P, M):
        ts = P.shape[0] - 2
        # separable edge-replicate of missing halo pixels: rows first
        # (validity propagates from the pixel below/above), then columns —
        # equals per-axis clamp in global coords
        Q = P.astype(np.int32)
        MA = M.copy()
        topm = M[0] == 0
        Q[0] = np.where(topm, Q[1], Q[0])
        MA[0] = np.where(topm, M[1], 1)
        botm = M[-1] == 0
        Q[-1] = np.where(botm, Q[-2], Q[-1])
        MA[-1] = np.where(botm, M[-2], 1)
        Q[:, 0] = np.where(MA[:, 0] == 0, Q[:, 1], Q[:, 0])
        Q[:, -1] = np.where(MA[:, -1] == 0, Q[:, -2], Q[:, -1])
        # separable 2x bilinear: rows then columns, weights (1, 3)
        R = np.empty((2 * ts, ts + 2), dtype=np.int32)
        R[0::2] = Q[0:ts] + 3 * Q[1 : ts + 1]
        R[1::2] = 3 * Q[1 : ts + 1] + Q[2 : ts + 2]
        O = np.empty((2 * ts, 2 * ts), dtype=np.int32)
        O[:, 0::2] = R[:, 0:ts] + 3 * R[:, 1 : ts + 1]
        O[:, 1::2] = 3 * R[:, 1 : ts + 1] + R[:, 2 : ts + 2]
        V = ((O + 8) >> 4).astype(np.uint8)
        for dy in (0, 1):
            for dx in (0, 1):
                q = np.s_[dy * ts : (dy + 1) * ts, dx * ts : (dx + 1) * ts]
                yield 2 * row + dy, 2 * col + dx, V[q], {"num": O[q], "val": V[q]}, None

    return _stencil(
        tiles, tp, zoom, 1, band, "upsample_children", tile_kernel,
        emit, sample_mod, sample_off, _UPSAMPLE_PIXEL_SCHEMA,
    )


_GRADIENT_PIXEL_SCHEMA = T.StructType(
    [
        T.StructField("row", T.LongType()),
        T.StructField("col", T.LongType()),
        T.StructField("py", T.IntegerType()),
        T.StructField("px", T.IntegerType()),
        T.StructField("gx_num", T.LongType()),
        T.StructField("gy_num", T.LongType()),
        T.StructField("mag2", T.LongType()),
    ]
)


def focal_gradient(
    tiles: DataFrame,
    tp: PyramidConfig,
    zoom: int,
    band: int = 0,
    emit: str = "canvas",
    sample_mod: int = 1,
    sample_off: int = 0,
) -> DataFrame:
    """Cross-tile Sobel gradient over a tiled raster — the edge-extraction /
    slope stencil, sharing ``focal_stats``'s halo exchange (one exchange of
    band plane + 1px border strips; bounded <= 9-struct assembly groups).
    Per pixel with a FULLY materialized 3x3 window:

        gx_num = (tr + 2r + br) - (tl + 2l + bl)   # Sobel Gx / Horn dz/dx numerator
        gy_num = (bl + 2b + br) - (tl + 2t + tr)   # Gy, image-down positive
        mag2   = gx_num^2 + gy_num^2

    All integer (|g| <= 1020) — exact in any engine, which is what makes
    the driver oracle possible; pixels whose window crosses the edge of
    the materialized raster are DROPPED (gradient needs all 9 samples;
    GDAL edge behavior).  ``emit='pixels'`` returns the sampled integer
    surface; ``emit='canvas'`` returns a uint8 edge-magnitude tile
    (``min((|gx|+2)//4 + (|gy|+2)//4, 255)`` — integer-only, deterministic),
    with window-incomplete border pixels set to 0.
    """

    def tile_kernel(row, col, P, M):
        gx, gy, full = _sobel(P, M)
        mag = (np.abs(gx) + 2) // 4 + (np.abs(gy) + 2) // 4
        canvas = np.where(full, np.minimum(mag, 255), 0).astype(np.uint8)
        planes = {"gx_num": gx, "gy_num": gy, "mag2": gx * gx + gy * gy}
        yield row, col, canvas, planes, full

    return _stencil(
        tiles, tp, zoom, 1, band, "focal_gradient", tile_kernel,
        emit, sample_mod, sample_off, _GRADIENT_PIXEL_SCHEMA,
    )


_HILLSHADE_PIXEL_SCHEMA = T.StructType(
    [
        T.StructField("row", T.LongType()),
        T.StructField("col", T.LongType()),
        T.StructField("py", T.IntegerType()),
        T.StructField("px", T.IntegerType()),
        T.StructField("dot", T.LongType()),
        T.StructField("den2", T.LongType()),
        T.StructField("hs", T.DoubleType()),
    ]
)


def hillshade(
    tiles: DataFrame,
    tp: PyramidConfig,
    zoom: int,
    band: int = 0,
    light: tuple = (-5, -5, 7),
    nz: int = 512,
    emit: str = "canvas",
    sample_mod: int = 1,
    sample_off: int = 0,
) -> DataFrame:
    """Cross-tile Horn hillshade (Horn 1981; `gdaldem hillshade` semantics)
    sharing ``focal_stats``'s halo exchange (one exchange of band plane +
    1px border strips; bounded <= 9-struct assembly groups).  Per pixel
    with a fully materialized 3x3 window, the Sobel/Horn numerators gx/gy
    (exactly ``focal_gradient``'s) define the unnormalized surface normal
    n = (-gx, -gy, nz); shade is the cosine between n and the INTEGER
    light vector L = ``light``:

        dot  = -lx*gx - ly*gy + lz*nz                  (exact int64)
        den2 = (lx^2 + ly^2 + lz^2) * (gx^2 + gy^2 + nz^2)
        hs   = dot / sqrt(den2)                        in [-1, 1]

    dot and den2 are exact integers far below 2^53, so hs is ONE
    correctly-rounded sqrt + ONE correctly-rounded division — IEEE-identical
    in numpy, Spark, and DuckDB (the ``retrieval_recall`` quantization
    trick), which is what makes a bit-exact cross-engine value oracle
    possible for a trigonometry-flavored raster product.  The default
    L = (-5, -5, 7) lights from the northwest (image coords: +x right,
    +y down) at atan(7/sqrt(50)) ~ 44.7 deg altitude — GDAL's
    az=315/alt=45 default rationalized to integers; ``nz`` plays the role
    of Horn's 8*cellsize / z-exaggeration.

    ``emit='pixels'`` returns the sampled (dot, den2, hs) surface with
    window-incomplete pixels dropped (hillshade needs all 9 samples, as
    ``focal_gradient``); ``emit='canvas'`` returns a uint8 tile in GDAL's
    1..255 range — ``1 + floor(254 * max(hs, 0))`` — with 0 reserved for
    window-incomplete border pixels.
    """
    lx, ly, lz = (int(v) for v in light)
    l2 = lx * lx + ly * ly + lz * lz
    if l2 == 0:
        raise ValueError("light vector must be non-zero")
    nzi = int(nz)
    if nzi <= 0:
        raise ValueError("nz must be a positive integer")

    def tile_kernel(row, col, P, M):
        gx, gy, full = _sobel(P, M)
        dot = -lx * gx - ly * gy + lz * nzi
        den2 = l2 * (gx * gx + gy * gy + nzi * nzi)
        hs = dot / np.sqrt(den2.astype(np.float64))
        shade = (254.0 * np.maximum(hs, 0.0)).astype(np.int64) + 1
        canvas = np.where(full, shade, 0).astype(np.uint8)
        yield row, col, canvas, {"dot": dot, "den2": den2, "hs": hs}, full

    return _stencil(
        tiles, tp, zoom, 1, band, "hillshade", tile_kernel,
        emit, sample_mod, sample_off, _HILLSHADE_PIXEL_SCHEMA,
    )


def _ccl4(mask: np.ndarray) -> "tuple[np.ndarray, int]":
    """4-connected two-pass labeling of a boolean plane, pure numpy: label
    horizontal runs (vectorized cumsum over run starts), union runs that
    touch vertically (union-find over the UNIQUE run-pair set — a solid
    h×w block contributes h-1 pairs, not h·w), then relabel to root runs.
    Returns (per-pixel root-run id, -1 background; number of runs)."""
    h, w = mask.shape
    if not mask.any():
        return np.full((h, w), -1, np.int64), 0
    starts = mask.copy()
    starts[:, 1:] &= ~mask[:, :-1]
    run_id = np.cumsum(starts.ravel()).reshape(h, w) - 1
    n_runs = int(starts.sum())
    parent = np.arange(n_runs, dtype=np.int64)

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    both = mask[1:, :] & mask[:-1, :]
    if both.any():
        a = run_id[1:, :][both]
        b = run_id[:-1, :][both]
        for pa, pb in np.unique(np.stack([a, b], 1), axis=0):
            ra, rb = find(int(pa)), find(int(pb))
            if ra != rb:
                if ra < rb:
                    parent[rb] = ra
                else:
                    parent[ra] = rb
    roots = np.array([find(i) for i in range(n_runs)], dtype=np.int64)
    lab = np.where(mask, roots[np.minimum(run_id, n_runs - 1)], -1)
    return lab, n_runs


def label_components(
    tiles: DataFrame,
    band: int = 0,
    threshold: int = 128,
    max_iters: int = 25,
) -> DataFrame:
    """Cross-tile connected-component labeling over a tiled raster — the
    raster→vector "patch extraction" operator (contiguous burned area,
    water bodies, built-up blobs): pixels of band ``band`` with value
    ``>= threshold`` are foreground; components are 4-connected regions in
    GLOBAL pixel space, crossing tile boundaries.

    Output: one row per component — ``(component, comp_gy, comp_gx, area,
    min_gy, min_gx, max_gy, max_gx, n_tiles, perimeter)`` where
    ``component`` is the row-major-minimal member pixel encoded
    ``gy·2³² + gx`` (engine-portable identity: any labeling that agrees on
    membership agrees on it; a foreground pixel with gx ≥ 2³² or gy ≥ 2³¹
    raises ``ValueError``), ``comp_gy/comp_gx`` its decoded coordinates,
    ``area`` the pixel count, the bbox in global pixel coordinates, and
    ``perimeter`` the exposed-edge count ``4·area − 2·adjacent_pairs``
    (within-tile pairs counted in the kernel; cross-tile pairs are exactly
    the border-strip join matches).  All columns exact integers.

    Adjacency is GRID-FLAT: a tile's right edge pairs only with tile
    ``col + 1``, so columns do not wrap at the antimeridian — on a global
    grid a region crossing it keeps one label per side (the operator sees
    tiles only, not the pyramid's matrix width).

    Scale shape — the halo-free stencil: each canvas is labeled LOCALLY in
    one Arrow kernel pass (vectorized run labeling + union-find over the
    unique run-pair set), which emits per-local-label 7-int summaries plus
    one row per FOREGROUND BOUNDARY PIXEL (≤ 2·(tw+th) per tile — border
    strips, never canvas bytes, exactly the focal-stats discipline).
    Cross-tile equivalences are two equi-joins of opposing border strips
    on (tile key, offset); the global merge runs on the LABEL graph — one
    node per local patch, not per pixel — via
    functions/dedup.connected_components: a graph of at most
    ``DRIVER_CC_MAX_EDGES`` edges (even a 600M-pixel corpus yields only
    ~10⁴–10⁵) resolves in one vectorized driver-side numpy pass, a larger
    one by the frontier-delta + pointer-doubling label propagation
    (O(log diameter) rounds of label-table-sized joins).  Both paths give
    the same min-gid labeling (pytest-pinned).  Final stats are one
    groupBy on the resolved component id over per-label partials.  Canvas
    bytes are read exactly once and never shuffled."""
    from .functions.dedup import connected_components

    band_i = int(band)
    thr = int(threshold)
    out_schema = T.StructType(
        [
            T.StructField("kind", T.IntegerType()),
            T.StructField("row", T.LongType()),
            T.StructField("col", T.LongType()),
            T.StructField("gid", T.LongType()),
            T.StructField("area", T.LongType()),
            T.StructField("min_gy", T.LongType()),
            T.StructField("min_gx", T.LongType()),
            T.StructField("max_gy", T.LongType()),
            T.StructField("max_gx", T.LongType()),
            T.StructField("adj", T.LongType()),
            T.StructField("side", T.IntegerType()),
            T.StructField("off", T.LongType()),
        ]
    )

    def emit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            frames = []
            for i in range(len(pdf)):
                r = int(pdf["row"].iat[i])
                c = int(pdf["col"].iat[i])
                tw = int(pdf["tile_w"].iat[i])
                th = int(pdf["tile_h"].iat[i])
                mask = _band_plane(pdf["bytes"].iat[i], th, tw, band_i) >= thr
                lab, _ = _ccl4(mask)
                if not mask.any():
                    continue
                ys, xs = np.nonzero(mask)
                lv = lab[ys, xs]
                gy = r * th + ys.astype(np.int64)
                gx = c * tw + xs.astype(np.int64)
                if gx.max() >= 1 << 32 or gy.max() >= 1 << 31:
                    raise ValueError(
                        f"tile ({r}, {c}) at {th}x{tw} px puts a pixel past "
                        "the component id packing gy*2^32 + gx "
                        "(needs gx < 2^32, gy < 2^31)"
                    )
                code = (gy << np.int64(32)) | gx
                u, inv = np.unique(lv, return_inverse=True)
                k = len(u)
                gid = np.full(k, np.iinfo(np.int64).max, np.int64)
                np.minimum.at(gid, inv, code)
                area = np.bincount(inv, minlength=k).astype(np.int64)
                mny = np.full(k, np.iinfo(np.int64).max, np.int64)
                mnx = mny.copy()
                mxy = np.full(k, np.iinfo(np.int64).min, np.int64)
                mxx = mxy.copy()
                np.minimum.at(mny, inv, gy)
                np.minimum.at(mnx, inv, gx)
                np.maximum.at(mxy, inv, gy)
                np.maximum.at(mxx, inv, gx)
                # within-tile 4-adjacencies per label (horizontal pairs are
                # run-internal, vertical pairs were unioned -> both endpoints
                # always share the label)
                adj = np.zeros(k, np.int64)
                hp = mask[:, 1:] & mask[:, :-1]
                if hp.any():
                    np.add.at(adj, np.searchsorted(u, lab[:, :-1][hp]), 1)
                vp = mask[1:, :] & mask[:-1, :]
                if vp.any():
                    np.add.at(adj, np.searchsorted(u, lab[:-1, :][vp]), 1)
                frames.append(
                    pd.DataFrame(
                        {
                            "kind": np.zeros(k, np.int32),
                            "row": np.full(k, r, np.int64),
                            "col": np.full(k, c, np.int64),
                            "gid": gid,
                            "area": area,
                            "min_gy": mny,
                            "min_gx": mnx,
                            "max_gy": mxy,
                            "max_gx": mxx,
                            "adj": adj,
                            "side": np.zeros(k, np.int32),
                            "off": np.zeros(k, np.int64),
                        }
                    )
                )
                # boundary strips: (side, offset, gid of the local label)
                gid_of = {int(u[j]): int(gid[j]) for j in range(k)}
                sides = (
                    (0, lab[0, :]),          # T: offset = x
                    (1, lab[th - 1, :]),     # B
                    (2, lab[:, 0]),          # L: offset = y
                    (3, lab[:, tw - 1]),     # R
                )
                for s, line in sides:
                    offs = np.nonzero(line >= 0)[0]
                    if not len(offs):
                        continue
                    frames.append(
                        pd.DataFrame(
                            {
                                "kind": np.ones(len(offs), np.int32),
                                "row": np.full(len(offs), r, np.int64),
                                "col": np.full(len(offs), c, np.int64),
                                "gid": np.array(
                                    [gid_of[int(v)] for v in line[offs]],
                                    np.int64,
                                ),
                                "area": np.zeros(len(offs), np.int64),
                                "min_gy": np.zeros(len(offs), np.int64),
                                "min_gx": np.zeros(len(offs), np.int64),
                                "max_gy": np.zeros(len(offs), np.int64),
                                "max_gx": np.zeros(len(offs), np.int64),
                                "adj": np.zeros(len(offs), np.int64),
                                "side": np.full(len(offs), s, np.int32),
                                "off": offs.astype(np.int64),
                            }
                        )
                    )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    out = (
        tiles.select("row", "col", "tile_w", "tile_h", "bytes")
        .mapInPandas(emit, schema=out_schema)
        .localCheckpoint(eager=False)  # feeds stats AND two boundary joins
    )
    stats = out.filter(F.col("kind") == 0).select(
        "row", "col", "gid", "area", "min_gy", "min_gx", "max_gy", "max_gx",
        "adj",
    )
    bnd = out.filter(F.col("kind") == 1).select("row", "col", "gid", "side", "off")
    rgt = bnd.filter(F.col("side") == 3).select(
        "row", (F.col("col") + 1).alias("col"), "off", F.col("gid").alias("gid_a")
    )
    lft = bnd.filter(F.col("side") == 2).select(
        "row", "col", "off", F.col("gid").alias("gid_b")
    )
    bot = bnd.filter(F.col("side") == 1).select(
        (F.col("row") + 1).alias("row"), "col", "off", F.col("gid").alias("gid_a")
    )
    top = bnd.filter(F.col("side") == 0).select(
        "row", "col", "off", F.col("gid").alias("gid_b")
    )
    # matched border pairs carry MULTIPLICITY (one row per cross-tile pixel
    # adjacency — the perimeter needs the count, the merge needs the set)
    matched = (
        rgt.join(lft, ["row", "col", "off"])
        .select("gid_a", "gid_b")
        .unionByName(bot.join(top, ["row", "col", "off"]).select("gid_a", "gid_b"))
        .localCheckpoint(eager=False)
    )
    comp = connected_components(matched, "gid_a", "gid_b", max_iters).select(
        F.col("doc_id").alias("gid"), "component"
    )
    cross = (
        matched.join(comp.withColumnRenamed("gid", "gid_a"), "gid_a")
        .groupBy("component")
        .agg(F.count("*").alias("_cross"))
        .withColumnRenamed("component", "_comp")
    )
    labeled = stats.join(comp, "gid", "left").withColumn(
        "_comp", F.coalesce("component", "gid")
    )
    agg = labeled.groupBy("_comp").agg(
        F.sum("area").alias("area"),
        F.min("min_gy").alias("min_gy"),
        F.min("min_gx").alias("min_gx"),
        F.max("max_gy").alias("max_gy"),
        F.max("max_gx").alias("max_gx"),
        F.count_distinct(F.struct("row", "col")).alias("n_tiles"),
        F.sum("adj").alias("_adj"),
    )
    return agg.join(cross, "_comp", "left").select(
        F.col("_comp").alias("component"),
        F.shiftright("_comp", 32).alias("comp_gy"),
        F.col("_comp").bitwiseAND(F.lit((1 << 32) - 1)).alias("comp_gx"),
        "area",
        "min_gy",
        "min_gx",
        "max_gy",
        "max_gx",
        "n_tiles",
        (
            F.lit(4) * F.col("area")
            - F.lit(2)
            * (F.col("_adj") + F.coalesce("_cross", F.lit(0).cast("long")))
        ).alias("perimeter"),
    )
