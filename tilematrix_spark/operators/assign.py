"""Point → tile assignment over tables + skew-aware aggregation helpers.

The engine's flagship operator (north_star: "batched tile-index computation
… point-in-polygon assignment of image centroids to pyramid tiles"): one
codegen'd projection per row — reference semantics ``_funcs.py:240-267``.

Skew: at low zooms a handful of tiles hold nearly all rows (a zoom-0 tile is
half the world).  Every aggregation over ``tile_id`` here is two-stage
salt-and-reaggregate (north_rule): partial agg on ``(keys…, salt)``, final
agg on ``keys`` — the partial stage spreads a hot key over ``salt_buckets``
reducers, the final stage combines ``salt_buckets`` pre-aggregated rows per
key.  AQE skew handling remains enabled as a backstop, not the design.
"""

from __future__ import annotations

from typing import Dict, Optional, Sequence, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import exprs
from ..grid import PyramidConfig

ColumnOrName = Union[Column, str]


def with_tile(
    df: DataFrame,
    tp: PyramidConfig,
    zoom: exprs.ZoomLike,
    x: ColumnOrName = "lon",
    y: ColumnOrName = "lat",
    on_edge_use: str = "rb",
    out_row: str = "row",
    out_col: str = "col",
    out_tile_id: Optional[str] = "tile_id",
    keep_invalid: bool = False,
) -> DataFrame:
    """Assign each point row its pyramid tile (native projection).

    Rows outside the grid get NULL row/col (and are dropped unless
    ``keep_invalid`` — the engine's quarantine convention where the
    reference raises, ``_tilepyramid.py:285-286``).

    The drop-invalid path (the default) is structured as filter → raw
    projection → validity filter rather than projecting the NULL-guarded
    ``tile_from_xy`` struct: the guarded struct embeds the full row/col
    arithmetic inside its own validity predicate, and projection collapse
    inlines that tree ~6× into any downstream join/aggregate key — measured
    6× slower on a 2M-point broadcast join (same rows either way).
    """
    xc = (F.col(x) if isinstance(x, str) else x).cast("double")
    yc = (F.col(y) if isinstance(y, str) else y).cast("double")
    if keep_invalid:
        t = exprs.tile_from_xy(tp, x, y, zoom, on_edge_use=on_edge_use)
        out = df.withColumn("_t", t).withColumn(out_row, F.col("_t.row")).withColumn(
            out_col, F.col("_t.col")
        ).drop("_t")
    else:
        in_grid = (
            (xc >= F.lit(tp.left))
            & (xc <= F.lit(tp.right))
            & (yc >= F.lit(tp.bottom))
            & (yc <= F.lit(tp.top))
        )
        rc = exprs.rowcol_raw(tp, x, y, zoom, on_edge_use=on_edge_use)
        out = df.filter(in_grid).select(
            "*", rc["row"].alias(out_row), rc["col"].alias(out_col)
        ).filter(exprs.tile_is_valid(tp, zoom, out_row, out_col))
    if out_tile_id:
        out = out.withColumn(out_tile_id, exprs.tile_id(zoom, out_row, out_col))
    return out


def salt_buckets_for_zoom(tp: PyramidConfig, zoom: int) -> int:
    """Per-zoom salt width ``S(z) = max(1, 256 / matrix_cells(z))`` (SURVEY §7.3).

    Salting exists to spread a few HOT keys (zoom-0..4 tiles holding most of
    the data) over many reducers.  At high zooms the tile key is already
    high-cardinality; salting there only multiplies partial-agg hash-map
    state (cells × salts entries per task) and *destroys* scaling — measured
    7× slower at local[32] with salt=32 at z8.
    """
    cells = tp.matrix_width(zoom) * tp.matrix_height(zoom)
    return max(1, 256 // max(cells, 1))


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    aggs: Dict[str, str],
    salt_buckets: int = 32,
) -> DataFrame:
    """Two-stage skew-safe aggregation.

    ``aggs``: {output_col: "sum:col" | "count:*" | "min:col" | "max:col"}
    (decomposable aggregates only — they re-combine exactly).  The salt
    hashes ``spark_partition_id()``: a random spread is not deterministic,
    and the partition id is cheap and reproducible for a given input
    partitioning.

    ``salt_buckets`` must fit the key cardinality: use
    :func:`salt_buckets_for_zoom` for tile keys.  ``salt_buckets <= 1``
    degrades to a plain two-phase aggregate (Spark's partial/final combine).
    """
    if salt_buckets <= 1:
        final_direct = []
        for out_name, spec in aggs.items():
            op, _, col = spec.partition(":")
            if op == "count":
                final_direct.append(F.count(F.lit(1)).alias(out_name))
            elif op in ("sum", "min", "max"):
                final_direct.append(getattr(F, op)(col).alias(out_name))
            else:
                raise ValueError(f"unsupported salted agg op: {op}")
        return df.groupBy(*keys).agg(*final_direct)
    salt = F.pmod(F.hash(F.spark_partition_id()), F.lit(salt_buckets)).alias("_salt")

    partial_exprs = []
    final_exprs = []
    for out_name, spec in aggs.items():
        op, _, col = spec.partition(":")
        pname = f"_p_{out_name}"
        if op == "count":
            partial_exprs.append(F.count(F.lit(1)).alias(pname))
            final_exprs.append(F.sum(pname).alias(out_name))
        elif op == "sum":
            partial_exprs.append(F.sum(col).alias(pname))
            final_exprs.append(F.sum(pname).alias(out_name))
        elif op == "min":
            partial_exprs.append(F.min(col).alias(pname))
            final_exprs.append(F.min(pname).alias(out_name))
        elif op == "max":
            partial_exprs.append(F.max(col).alias(pname))
            final_exprs.append(F.max(pname).alias(out_name))
        else:
            raise ValueError(f"unsupported salted agg op: {op}")

    partial = df.withColumn("_salt", salt).groupBy(*keys, "_salt").agg(*partial_exprs)
    return partial.groupBy(*keys).agg(*final_exprs)


def tile_histogram(
    df: DataFrame,
    tp: PyramidConfig,
    zoom: exprs.ZoomLike,
    x: ColumnOrName = "lon",
    y: ColumnOrName = "lat",
    salt_buckets: Optional[int] = None,
) -> DataFrame:
    """Rows-per-tile counts at ``zoom`` — the skew-statistics / rollup-input
    aggregation, salted against dense cells with a per-zoom salt width."""
    if salt_buckets is None and isinstance(zoom, int):
        salt_buckets = salt_buckets_for_zoom(tp, zoom)
    tiled = with_tile(df, tp, zoom, x, y)
    return salted_agg(tiled, ["row", "col"], {"n": "count:*"}, salt_buckets=salt_buckets or 1)

