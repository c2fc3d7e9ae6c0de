"""Point-in-polygon join: assign point rows (image centroids) to the polygon
regions containing them, using the tile pyramid as the spatial index.

This is the engine's general spatial equi-join pattern (north_star:
"point-in-polygon assignment … via per-partition prepared-geometry PIP"):

1. polygons → their covering tiles at ``zoom`` (filter-refine cover,
   operators/geometry.py) → a (tile → poly_id) index, broadcast when small;
2. points → their tile (native O18 projection);
3. equi-join on (row, col) — co-located, no theta-join. Candidate rows carry
   ONLY (point_id, poly_id, x, y): never ship geometry per candidate —
   measured 4× end-to-end on 48-vertex polygons (a ~3 KB GeoJSON string per
   row saturates memory bandwidth long before the refine kernel does, and
   at 10^12 rows it would dominate every shuffle);
4. exact refine per (point, polygon) pair: even-odd ray-cast vectorized
   over points × edges, against PREPARED geometries — parsed once on the
   driver, broadcast to executors (the prepared-geometry amortization:
   one parse per polygon per job, not per batch), in Arrow batches.

Index zoom trades candidate precision against index size: cells ≈
polygon_area / tile_area; pick zoom so the average polygon covers 4-64
tiles.  Skew (a polygon covering a hot tile with millions of points) is
bounded by the tile granularity itself; AQE skew-split is the backstop.

Both paths (the default broadcast join and ``fused=True``) require the
polygon side to fit on the driver — the same constraint the broadcast join
itself imposes.
"""

from __future__ import annotations

from typing import List, Optional

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import geomkernels
from ..grid import PyramidConfig
from . import assign
from .geometry import tiles_from_geom


def _prepare_parts(geom: dict) -> List[List[np.ndarray]]:
    """Closed-ring vertex arrays per polygon part, the input of the full
    ray-cast ``_points_in_prepared``.  Kept as the test reference that pins
    the grid-accelerated ``_prepare_parts_grid`` path bit-for-bit."""
    parts: List[List[np.ndarray]] = []
    for kind, coords in geomkernels._iter_parts(geom):
        if kind != "polygon":
            continue
        parts.append([geomkernels._close_ring(ring) for ring in coords if len(ring)])
    return parts


def _points_in_prepared(
    parts: List[List[np.ndarray]], xs: np.ndarray, ys: np.ndarray
) -> np.ndarray:
    """Vectorized even-odd ray-cast: crossings summed over all edges of all
    rings of a part, parity per part, parts OR-ed.  Bit-identical to the
    sequential per-edge XOR (same `x0 + (y-y0)*dx/dy` float shapes;
    horizontal edges contribute no crossing).

    Edges are processed in chunks of 16 so the chunk×points temporaries
    stay small (≤ ~128 KB for a 1k-point group): one full edges×points
    broadcast allocates multi-MB temporaries per numpy op, which both
    spills every core's working set to DRAM and mmap-churns — measured
    0.62 scaling efficiency 8→32 procs unchunked vs 0.76 at chunk=16,
    with the best absolute throughput at both levels."""
    n = len(xs)
    inside = np.zeros(n, dtype=bool)
    for rings in parts:
        crossings = np.zeros(n, dtype=np.int64)
        for arr in rings:
            rx, ry = arr[:, 0], arr[:, 1]
            ne = len(arr) - 1
            for e0 in range(0, ne, 16):
                e1 = min(e0 + 16, ne)
                x0, x1 = rx[e0:e1, None], rx[e0 + 1:e1 + 1, None]
                y0, y1 = ry[e0:e1, None], ry[e0 + 1:e1 + 1, None]
                cond = (y0 > ys) != (y1 > ys)
                with np.errstate(divide="ignore", invalid="ignore"):
                    xint = x0 + (ys - y0) * (x1 - x0) / (y1 - y0)
                crossings += (cond & (xs < xint)).sum(axis=0)
        inside |= (crossings % 2).astype(bool)
    return inside


def _prepare_parts_grid(geom: dict, cells_per_edge: float = 4.0):
    """Grid-accelerated prepared geometry: per polygon part, a regular
    refine grid over the part bbox where each cell knows exactly the edges
    that can cross a +x ray cast from inside it.

    An edge can contribute a crossing for a point in cell (i, j) only if its
    y-interval overlaps the cell's y-band (closed) and its max-x reaches past
    the cell's left border (``exmax >= cell_xmin`` — a crossing needs
    ``xint > x >= cell_xmin`` and ``xint <= exmax``).  Per y-band the edges
    are sorted by exmax DESCENDING, so each cell's subset is a PREFIX found
    by binary search: O(bands × edges) index memory, O(log e) lookup.  The
    crossing test itself is unchanged (same IEEE float shapes), and the
    subset provably contains every crossing-capable edge, so parity is
    bit-identical to the full scan — pinned by tests/test_pip.py.

    Returns a list of per-part dicts; ``_points_in_prepared_grid`` consumes
    it.  The index is MULTI-LEVEL: band counts sqrt(4·edges), /2, /2, …
    down to 4 (each level ~O(edges) memory) — the query picks the finest
    level that still gives ≥ ~150 points per band, because band-grouping
    overhead dominates small candidate groups (measured: 40k-point groups
    want 40 bands, 1.5k-point groups want 10; wrong level costs ~2×).
    Measured 3-9× over the full ray-cast on the flagship 400-edge polygons
    across group sizes (band-grouped; per-cell x-prefixes lose to
    small-array overhead).
    """
    out = []
    for kind, coords in geomkernels._iter_parts(geom):
        if kind != "polygon":
            continue
        rings = [geomkernels._close_ring(ring) for ring in coords if len(ring)]
        segs = []
        for arr in rings:
            if len(arr) > 1:
                segs.append(np.column_stack([arr[:-1, 0], arr[:-1, 1], arr[1:, 0], arr[1:, 1]]))
        if not segs:
            continue
        e = np.concatenate(segs)
        x0, y0, x1, y1 = e[:, 0], e[:, 1], e[:, 2], e[:, 3]
        eymin, eymax = np.minimum(y0, y1), np.maximum(y0, y1)
        exmax = np.maximum(x0, x1)
        gx0 = float(min(a[:, 0].min() for a in rings))
        gx1 = float(max(a[:, 0].max() for a in rings))
        gy0 = float(min(a[:, 1].min() for a in rings))
        gy1 = float(max(a[:, 1].max() for a in rings))
        ne = len(e)
        g_max = int(min(64, max(4, round((ne * cells_per_edge) ** 0.5))))
        levels = []
        g = g_max
        while True:
            dy = (gy1 - gy0) / g or 1.0
            bands = []
            for j in range(g):
                # edge bands absorb clip rounding: a point clipped into band
                # 0 / g-1 may sit a ulp beyond gy1 - j*dy, so the boundary
                # bands select with open-ended limits (only ever ADDS edges)
                b_hi = np.inf if j == 0 else gy1 - j * dy
                b_lo = -np.inf if j == g - 1 else gy1 - (j + 1) * dy
                sel = np.flatnonzero((eymin <= b_hi) & (eymax >= b_lo))
                # exmax descending: prefixes cut at a group's min point x
                order = sel[np.argsort(-exmax[sel], kind="stable")]
                bands.append((order.astype(np.int64), exmax[order]))
            levels.append((g, dy, bands))
            if g <= 4:
                break
            g = max(4, g // 2)
        out.append(
            {
                "edges": (x0, y0, x1, y1),
                "bbox": (gx0, gx1, gy0, gy1),
                "levels": levels,  # finest first
            }
        )
    return out


def _points_in_prepared_grid(parts, xs: np.ndarray, ys: np.ndarray) -> np.ndarray:
    """Grid-accelerated even-odd ray-cast over ``_prepare_parts_grid`` parts.
    Identical result to ``_points_in_prepared``: same crossing float ops over
    an edge subset whose pruning comparisons are padded by one ulp (the
    interpolated crossing x can overshoot an edge's max x by ~1 ulp near an
    endpoint, and band clipping can round a point one band out), so every
    edge the full ray-cast would count is provably retained; points group by
    refine-grid band so each band's prefix subset is resolved once."""
    n = len(xs)
    inside = np.zeros(n, dtype=bool)
    for part in parts:
        x0, y0, x1, y1 = part["edges"]
        gx0, gx1, gy0, gy1 = part["bbox"]
        # outside the part bbox -> zero crossings (ray goes +x: x > gx1 can
        # never reach an edge; y outside [gy0, gy1] straddles nothing).
        # gx1 padded one ulp: the interpolated crossing x can overshoot the
        # edge's max x by ~1 ulp near an endpoint, so a point in that sliver
        # must stay a candidate for the crossing test to see it
        cand = np.flatnonzero((ys >= gy0) & (ys <= gy1) & (xs <= np.nextafter(gx1, np.inf)))
        if len(cand) == 0:
            continue
        # pick the finest level that keeps >= ~150 points per band: finer
        # bands mean fewer edge tests but more small-array overhead
        g, dy, bands = part["levels"][-1]
        for lvl in part["levels"]:
            if len(cand) >= 150 * lvl[0]:
                g, dy, bands = lvl
                break
        cxs, cys = xs[cand], ys[cand]
        jj = np.clip(((gy1 - cys) / dy).astype(np.int64), 0, g - 1)
        # float-exact band containment: truncation can land a point one band
        # off by 1 ulp, which would exclude a crossing edge living in that
        # sliver.  Re-check against the SAME float expressions the index
        # build uses (gy1 - j*dy) and nudge — the band then provably
        # contains the point under build-time comparisons.
        jj = np.where(cys < gy1 - (jj + 1) * dy, jj + 1, jj)
        jj = np.clip(np.where(cys > gy1 - jj * dy, jj - 1, jj), 0, g - 1)
        # group by BAND, not cell: bigger point runs amortize the small-array
        # overhead (measured faster than per-cell prefixes despite a few more
        # edges per group); the x-prefix cuts at the GROUP's min x — exact,
        # because the crossing test's own `px < xint <= exmax` discriminates
        # per point
        order = np.argsort(jj, kind="stable")
        sc = jj[order]
        starts = np.flatnonzero(np.r_[True, sc[1:] != sc[:-1]])
        ends = np.r_[starts[1:], len(sc)]
        crossings = np.zeros(len(cand), dtype=np.int64)
        for s0, e0 in zip(starts, ends):
            idx_desc, exmax_desc = bands[int(sc[s0])]
            run = order[s0:e0]
            pxs, pys = cxs[run], cys[run]
            # prefix with exmax >= min point x (exmax_desc is descending),
            # padded one ulp for the same interpolation-overshoot reason
            k = int(np.searchsorted(-exmax_desc, -np.nextafter(pxs.min(), -np.inf), side="right"))
            if k == 0:
                continue
            sub = idx_desc[:k]
            for c0 in range(0, k, 16):
                c1 = min(c0 + 16, k)
                ch = sub[c0:c1]
                ex0, ey0 = x0[ch, None], y0[ch, None]
                ex1, ey1 = x1[ch, None], y1[ch, None]
                cond = (ey0 > pys) != (ey1 > pys)
                with np.errstate(divide="ignore", invalid="ignore"):
                    xint = ex0 + (pys - ey0) * (ex1 - ex0) / (ey1 - ey0)
                crossings[run] += (cond & (pxs < xint)).sum(axis=0)
        part_inside = np.zeros(n, dtype=bool)
        part_inside[cand] = (crossings % 2).astype(bool)
        inside |= part_inside
    return inside


def _py_rowcol_raw(tp: PyramidConfig, x: float, y: float, zoom: int, on_edge_use: str):
    """Pure-python mirror of exprs.rowcol_raw (same float ops: truncating
    int(), `%`-is-zero edge tie-break, antimeridian wrap)."""
    h, w = tp.tile_y_size(zoom), tp.tile_x_size(zoom)
    dy = tp.top - y
    row = int(dy / h)
    if on_edge_use in ("rt", "lt") and dy % h == 0.0:
        row -= 1
    dx = x - tp.left
    col = int(dx / w)
    if on_edge_use in ("lb", "lt") and dx % w == 0.0:
        col -= 1
    if tp.is_global:
        mw = tp.matrix_width(zoom)
        if col == -1:
            col = mw - 1
        elif col >= mw:
            col %= mw
    return row, col


def _local_cover_tiles(
    tp: PyramidConfig, zoom: int, geom: dict, max_cover_tiles: Optional[int]
) -> List[tuple]:
    """Driver-side mirror of operators/geometry.tiles_from_geom for ONE
    geometry: bbox cover (incl. antimeridian split intervals) + numpy
    rect-intersects refine — identical semantics, no Spark job.  Used by the
    fused PIP path where the polygon side is driver-resident anyway."""
    from .geometry import _tile_rects

    if geom["type"] == "Point":
        x, y = float(geom["coordinates"][0]), float(geom["coordinates"][1])
        if not (tp.left <= x <= tp.right and tp.bottom <= y <= tp.top):
            return []
        row, col = _py_rowcol_raw(tp, x, y, zoom, "rb")
        mh, mw = tp.matrix_height(zoom), tp.matrix_width(zoom)
        return [(row, col)] if 0 <= row < mh and 0 <= col < mw else []

    minx, miny, maxx, maxy = geomkernels.geom_bounds(geom)
    l, b, r, t = float(minx), float(miny), float(maxx), float(maxy)
    mh, mw = tp.matrix_height(zoom), tp.matrix_width(zoom)
    multi, i1, i2 = False, None, None
    if tp.is_global:
        t, b = min(t, tp.top), max(b, tp.bottom)
        west, east = l < tp.left, r > tp.right
        crossing = west or east
        r2 = tp.right - tp.left
        multi = crossing and not (west and east) and (r < l + r2)
        if west and not east:
            i1, i2 = (l + r2, tp.right), (tp.left, r)
        elif east and not west:
            i1, i2 = (tp.left, r - r2), (l, tp.right)
        cl = tp.left if crossing else l
        cr = tp.right if crossing else r
    else:
        cl, cr = l, r
    lb_row, lb_col = _py_rowcol_raw(tp, cl, b, zoom, "rt")
    rt_row, rt_col = _py_rowcol_raw(tp, cr, t, zoom, "lb")
    row_min, row_max = max(rt_row, 0), min(lb_row, mh - 1)
    col_min, col_max = max(lb_col, 0), min(rt_col, mw - 1)
    if row_min > row_max or col_min > col_max:
        return []
    if max_cover_tiles is not None:
        if (row_max - row_min + 1) * (col_max - col_min + 1) > max_cover_tiles:
            return []
    w = tp.tile_x_size(zoom)
    cand = []
    for row in range(row_min, row_max + 1):
        for col in range(col_min, col_max + 1):
            if multi:
                txl = tp.left + col * w
                txr = min(txl + w, tp.right)
                if not (
                    (txl <= i1[1] and txr >= i1[0])
                    or (txl <= i2[1] and txr >= i2[0])
                ):
                    continue
            cand.append((row, col))
    if not cand:
        return []
    rows_a = np.asarray([rc[0] for rc in cand], dtype=np.float64)
    cols_a = np.asarray([rc[1] for rc in cand], dtype=np.float64)
    rects = _tile_rects(tp, np.full(len(cand), zoom), rows_a, cols_a)
    offsets = [0.0]
    if tp.is_global and minx < tp.left:
        offsets.append(-2.0 * tp.right)
    if tp.is_global and maxx > tp.right:
        offsets.append(2.0 * tp.right)
    hit = np.zeros(len(cand), dtype=bool)
    for off in offsets:
        hit |= geomkernels.rects_intersect(
            geom, (rects[0] + off, rects[1], rects[2] + off, rects[3])
        )
    return [rc for rc, keep in zip(cand, hit) if keep]


def pip_join(
    points: DataFrame,
    polygons: DataFrame,
    tp: PyramidConfig,
    zoom: int,
    point_id: str = "point_id",
    poly_id: str = "poly_id",
    x: str = "lon",
    y: str = "lat",
    geom: str = "geometry",
    fused: bool = False,
    max_cover_tiles: Optional[int] = None,
) -> DataFrame:
    """(point_id, poly_id) pairs where the point falls inside the polygon."""
    if fused:
        # 3b. fused map-side join: the (tile -> polys) index AND the prepared
        # geometries ride one broadcast; a single Arrow pass over the POINTS
        # does tile-index + lookup + refine.  No candidate materialization:
        # the 1.5-3x candidate amplification never exists as rows (at 10^12
        # points that blow-up is the dominant memory/Arrow traffic), at the
        # price of hiding the join from Catalyst/AQE.  Only the raw
        # (id, x, y) columns cross the Arrow boundary — the tile index is
        # recomputed in the kernel with the same IEEE double ops (the
        # JVM->python copy is byte-proportional and per-JVM bound: each
        # avoided column is measured wall time).  Requires a
        # driver-collectable polygon side, like every broadcast join.
        # The polygon covers are computed DRIVER-SIDE with the pure-python
        # mirror of tiles_from_geom — dimension-side prep, no Spark job.
        import pyarrow as pa

        from pyspark.sql import types as T

        mw = tp.matrix_width(zoom)
        mh = tp.matrix_height(zoom)
        h, w = tp.tile_y_size(zoom), tp.tile_x_size(zoom)
        gt, gl = tp.top, tp.left
        gb, gr = tp.bottom, tp.right
        is_global = tp.is_global
        # tile -> polygon-ids map (one lookup per DISTINCT tile per batch,
        # not one scan per polygon: a per-poly searchsorted loop costs
        # O(polys * batch) vs this O(batch log batch + tiles))
        tile_polys: dict = {}
        prepared: dict = {}
        for prow in polygons.select(poly_id, geom).collect():
            pid, g_str = prow[0], prow[1]
            try:
                g = geomkernels.parse_geometry(g_str)
            except Exception:
                continue
            if geomkernels.geom_is_empty(g) or not geomkernels.geom_is_valid(g):
                continue  # mirrors tiles_from_geom on_invalid='drop'
            prepared[pid] = _prepare_parts_grid(g)
            for rr, cc in _local_cover_tiles(tp, zoom, g, max_cover_tiles):
                tile_polys.setdefault(rr * mw + cc, []).append(pid)
        bc = points.sparkSession.sparkContext.broadcast((tile_polys, prepared))

        slim = points.select(point_id, x, y)
        p_i, x_i, y_i = 0, 1, 2
        id_field = slim.schema[point_id].dataType
        out_schema = T.StructType(
            [T.StructField(point_id, id_field), T.StructField(poly_id, T.LongType())]
        )

        def lookup_refine(batches):
            tiles_of, prep = bc.value
            for batch in batches:
                n = batch.num_rows
                if n == 0:
                    continue
                xs = batch.column(x_i).to_numpy(zero_copy_only=False)
                ys = batch.column(y_i).to_numpy(zero_copy_only=False)
                ids = batch.column(p_i)
                # numpy mirror of exprs.rowcol_raw (on_edge 'rb') + validity:
                # same truncating division / wrap on float64 as the codegen'd
                # with_tile (pinned by the fused==default parity test)
                in_grid = (xs >= gl) & (xs <= gr) & (ys >= gb) & (ys <= gt)
                rows = np.trunc((gt - ys) / h)
                cols = np.trunc((xs - gl) / w)
                if is_global:
                    cols = np.where(cols == -1.0, float(mw - 1), cols)
                    cols = np.where(cols >= mw, cols % mw, cols)
                valid = in_grid & (rows >= 0) & (rows < mh) & (cols >= 0) & (cols < mw)
                keys = np.where(valid, rows * mw + cols, -1.0).astype(np.int64)
                # group points by tile (argsort runs), gather per-poly
                # candidate indices via the tile->polys map
                order = np.argsort(keys, kind="stable")
                sk = keys[order]
                starts = np.flatnonzero(np.r_[True, sk[1:] != sk[:-1]])
                ends = np.r_[starts[1:], n]
                per_poly: dict = {}
                for s0, e0 in zip(starts, ends):
                    polys_here = tiles_of.get(int(sk[s0]))
                    if polys_here:
                        run = order[s0:e0]
                        for p in polys_here:
                            per_poly.setdefault(p, []).append(run)
                out_ii: list = []
                out_poly: list = []
                for p, chunks in per_poly.items():
                    ii = np.concatenate(chunks) if len(chunks) > 1 else chunks[0]
                    m = _points_in_prepared_grid(prep[p], xs[ii], ys[ii])
                    sel = ii[m]
                    if len(sel):
                        out_ii.append(sel)
                        out_poly.append(np.full(len(sel), p, dtype=np.int64))
                if not out_ii:
                    continue
                take = np.concatenate(out_ii)
                yield pa.RecordBatch.from_arrays(
                    [ids.take(pa.array(take)), pa.array(np.concatenate(out_poly))],
                    schema=pa.schema(
                        [
                            pa.field(point_id, ids.type),
                            pa.field(poly_id, pa.int64()),
                        ]
                    ),
                )

        return slim.mapInArrow(lookup_refine, schema=out_schema)

    # 1. polygon -> covering tiles (filter-refine; exact candidate superset).
    # The polygon side is small by assumption: coalesce it so the cover
    # doesn't fan into one near-empty Arrow task per core (measured 2-4x
    # slower index builds at local[32] from tiny-task overhead).
    poly_side = polygons.select(poly_id, geom).coalesce(8)
    # oversize='drop' matches the FUSED path's driver-side cover, which
    # drops oversized polygon covers (the cap there guards driver memory —
    # row-band splitting doesn't apply to a python-enumerated index): the
    # fused==default equivalence contract holds under a cap on both paths
    idx = tiles_from_geom(
        poly_side, tp, zoom, geom=geom,
        max_cover_tiles=max_cover_tiles, oversize="drop",
    )

    # 2. point -> tile
    pts = assign.with_tile(
        points.select(point_id, x, y), tp, zoom, x, y, out_tile_id=None
    )

    # 3a. slim broadcast join: only ids + coordinates flow per candidate
    idx = F.broadcast(idx.select(poly_id, "row", "col"))
    # sort by polygon within partitions (no shuffle): Arrow batches then
    # hold long single-polygon runs, so the refine kernel sees large
    # groups (one prepared-geometry setup per ~batch, L2-friendly loops)
    cand = (
        pts.join(idx, ["row", "col"], "inner")
        .select(point_id, poly_id, x, y)
        .sortWithinPartitions(poly_id)
    )

    # 4. prepared geometries: parse once on the driver, broadcast
    prepared = {
        r[0]: _prepare_parts_grid(geomkernels.parse_geometry(r[1]))
        for r in polygons.select(poly_id, geom).collect()
    }
    bc = points.sparkSession.sparkContext.broadcast(prepared)
    schema = cand.schema
    pid_i = schema.names.index(poly_id)
    x_i, y_i = schema.names.index(x), schema.names.index(y)

    def refine(batches):
        # Arrow-native: zero-copy column views, numpy argsort run-grouping
        # (no pandas groupby machinery), C++ mask filter — the per-row
        # conversion overhead, not the ray-cast, was the measured
        # bottleneck at scale
        import pyarrow as pa

        prep = bc.value
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            pids = batch.column(pid_i).to_numpy(zero_copy_only=False)
            xs = batch.column(x_i).to_numpy(zero_copy_only=False)
            ys = batch.column(y_i).to_numpy(zero_copy_only=False)
            keep = np.zeros(n, dtype=bool)
            order = np.argsort(pids, kind="stable")
            sp = pids[order]
            starts = np.flatnonzero(np.r_[True, sp[1:] != sp[:-1]])
            ends = np.r_[starts[1:], n]
            for s0, e0 in zip(starts, ends):
                ii = order[s0:e0]
                keep[ii] = _points_in_prepared_grid(prep[sp[s0]], xs[ii], ys[ii])
            yield batch.filter(pa.array(keep))

    return cand.mapInArrow(refine, schema=schema).select(point_id, poly_id)
