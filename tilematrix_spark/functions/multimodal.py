"""Image-payload operators: the codec registry that decodes opaque
``binary`` image columns, and perceptual-hash near-duplicate pairs.

Codec dispatch goes through one registry: numpy-backed formats (raw/q8)
always decode; PIL-backed formats (jpeg/png/webp) auto-register when PIL
imports or via ``register_decoder`` — a real cluster lights them up with
zero plumbing changes, and without a codec library they raise a clear
``NotImplementedError``.  ``raster`` decodes every canvas through it.
"""

from __future__ import annotations

from typing import Callable, Dict, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import images as imglib

#: formats the sandbox can really decode (numpy-only codecs)
REAL_FORMATS = {"raw", "q8"}
#: formats requiring external libs — auto-registered when the lib imports
STUB_FORMATS = {"jpeg", "png", "webp"}

# ---------------------------------------------------------------------------
# codec registry (one dispatch point for every decode path)
#
# Decoder: (data, w, h) -> uint8 ndarray (h, w, 3).  The registry is
# populated at import time — numpy codecs always, PIL-backed jpeg/png/webp
# iff PIL imports (a real cluster lights them up with zero code changes;
# this container lacks it, so those formats raise NotImplementedError).
#
# Every Arrow kernel snapshots the registry into its closure at
# DataFrame-construction time (``decoders = dict(_DECODERS)``), so a
# decoder registered at runtime on the driver is cloudpickled to executors
# with the kernel — registration works on a real multi-JVM cluster, not
# just in local mode where the module state happens to be shared.
# ---------------------------------------------------------------------------

ImageDecoder = Callable[[bytes, int, int], np.ndarray]

_DECODERS: Dict[str, ImageDecoder] = {}


def register_decoder(fmt: str, fn: ImageDecoder) -> None:
    """Register/replace the decoder for ``fmt``.  Call before building the
    DataFrame plan — kernels snapshot the registry into their closures."""
    _DECODERS[fmt] = fn


def unregister_decoder(fmt: str) -> None:
    """Drop the decoder for ``fmt``; plans built earlier keep their snapshot."""
    _DECODERS.pop(fmt, None)


def snapshot_decoders() -> Dict[str, ImageDecoder]:
    """Copy of the registry for closure capture at plan-build time (ships to
    executors via cloudpickle with the Arrow kernel)."""
    return dict(_DECODERS)


def _pil_decoder() -> Optional[ImageDecoder]:
    """Import-guarded PIL decoder for jpeg/png/webp — None when PIL absent."""
    try:
        from PIL import Image  # noqa: F401
    except Exception:
        return None

    def decode(data: bytes, w: int, h: int) -> np.ndarray:
        import io

        from PIL import Image

        return np.asarray(Image.open(io.BytesIO(data)).convert("RGB"), dtype=np.uint8)

    return decode


def _install_default_decoders() -> None:
    for f in REAL_FORMATS:
        _DECODERS.setdefault(f, lambda data, w, h, _f=f: imglib.decode(data, w, h, _f))
    pil = _pil_decoder()
    if pil is not None:
        for f in STUB_FORMATS:
            _DECODERS.setdefault(f, pil)


_install_default_decoders()


def decode_image(
    data: bytes, w: int, h: int, fmt: str,
    decoders: Optional[Dict[str, ImageDecoder]] = None,
) -> np.ndarray:
    d = _DECODERS if decoders is None else decoders
    fn = d.get(fmt)
    if fn is not None:
        return fn(data, w, h)
    if fmt in STUB_FORMATS:
        # no codec library present and none registered; a real deployment
        # gets these via the import-guarded PIL path or register_decoder()
        raise NotImplementedError(
            f"decoder for '{fmt}' requires an image codec library "
            "(install PIL or register_decoder())"
        )
    raise ValueError(f"unknown image format: {fmt}")


def _shape_groups(pdf: pd.DataFrame):
    """Yield (w, h, fmt, positions) same-shape groups of an Arrow batch
    (``raster.verify_images``): per-image decode is unavoidable, but all
    statistics run once per group over an (n, h, w, 3) stack instead of
    per row."""
    pos = np.arange(len(pdf))
    key = pd.MultiIndex.from_arrays([pdf["w"].values, pdf["h"].values, pdf["fmt"].values])
    for (w, h, fmt), grp in pd.Series(pos).groupby(key, sort=False):
        yield int(w), int(h), str(fmt), grp.to_numpy()


def pack_sign_bits(vec_col, bits: int = 63):
    """Pack the sign bits of the first ``bits`` dims of an ``array<float>``
    embedding into a non-negative int64 perceptual-hash (bit i set iff
    ``v[i+1] > 0``) — the ``phash:int64`` column of the input_hint schema,
    derived from content instead of a stored column.  63 bits keeps the hash
    non-negative so ``>>``/``&`` band extraction is portable across engines
    (DuckDB raises on ``1::BIGINT << 63``).  Pure native expressions:
    transform-with-index + aggregate(bitwiseOR), whole-stage codegen."""
    # 2^i via double pow: powers of two are exact doubles through 2^62, and
    # shiftleft() only accepts a literal shift amount (not the lambda index).
    signs = F.transform(
        F.slice(vec_col, 1, bits),
        lambda x, i: F.when(
            x > F.lit(0.0), F.pow(F.lit(2.0), i).cast("long")
        ).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(signs, F.lit(0).cast("long"), lambda a, x: a.bitwiseOR(x))


def _phash_band_structs(phash_col, n_bands: int):
    """Split a packed 64-bit hash into ``n_bands`` contiguous bit bands,
    as (band_index, band_value) structs for explode-based blocking.

    Pigeonhole: two hashes at Hamming distance ≤ n_bands - 1 agree on at
    least one band, so joining on any-band-equal keeps recall exact for
    that radius.  shiftright sign-extends on int64; the mask clears the
    extended bits, so band values are correct unsigned ints for any band
    position including the one holding bit 63.  n_bands=1 (w=64, whose
    mask would overflow LongType) degenerates to the unmasked hash — the
    band IS the full word, so no mask is needed."""
    base, rem = divmod(64, n_bands)
    out, off = [], 0
    for b in range(n_bands):
        w = base + (1 if b < rem else 0)
        bv = (
            phash_col
            if w == 64
            else F.shiftright(phash_col, off).bitwiseAND(F.lit((1 << w) - 1))
        )
        out.append(F.struct(F.lit(b).alias("bi"), bv.alias("bv")))
        off += w
    return out


def _banded(df: DataFrame, phash_col: str, n_bands: int) -> DataFrame:
    """Explode each row into its n_bands (``_bi``, ``_bv``) blocking keys."""
    return df.select(
        "*", F.explode(F.array(*_phash_band_structs(F.col(phash_col), n_bands))).alias("_b")
    ).select(*df.columns, F.col("_b.bi").alias("_bi"), F.col("_b.bv").alias("_bv"))


def phash_dup_pairs(
    df: DataFrame,
    max_distance: int = 2,
    id_col: str = "image_id",
    max_ids_per_band: Optional[int] = 100_000,
) -> DataFrame:
    """Perceptual-hash near-dup image pairs via banded blocking: split the
    64-bit hash into 4 16-bit bands; pairs matching on any band get an exact
    Hamming check (pigeonhole: distance ≤ 3 guarantees ≥1 equal band;
    distance ≤ max_distance ≤ 3 keeps recall exact).

    Scale guard (``max_ids_per_band``): a degenerate band value shared by a
    large corpus fraction — 0x0000/0xFFFF bands from flat or dark images —
    makes one blocking bucket quadratic at corpus scale.  Band keys held by
    more than ``max_ids_per_band`` ids are dropped via a broadcast anti-join
    before the self-join (same discipline as ``winnow_near_pairs``'s
    ``max_docs_per_fp``).  Any pair sharing at least one NON-degenerate band
    is still found exactly; only pairs whose every equal band is degenerate
    are skipped — a bounded, documented recall trade on pathological
    corpora, exact otherwise.  ``None`` disables the cap."""
    h = df.select(F.col(id_col), F.col("phash"))
    banded = _banded(h, "phash", 4)
    if max_ids_per_band:
        hot = (
            banded.groupBy("_bi", "_bv")
            .agg(F.count("*").alias("_n"))
            .filter(F.col("_n") > max_ids_per_band)
            .select("_bi", "_bv")
        )
        banded = banded.join(F.broadcast(hot), ["_bi", "_bv"], "left_anti")
    left = banded.select(
        F.col(id_col).alias("id_a"), F.col("phash").alias("ph_a"), "_bi", "_bv"
    )
    right = banded.select(
        F.col(id_col).alias("id_b"), F.col("phash").alias("ph_b"), "_bi", "_bv"
    )
    cands = (
        left.join(right, ["_bi", "_bv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    dist = F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b")))
    return cands.withColumn("hamming", dist).filter(F.col("hamming") <= max_distance).select(
        "id_a", "id_b", "hamming"
    )


def spatial_phash_pairs(
    df: DataFrame,
    tp,
    zoom,
    max_hamming: int = 6,
    id_col: str = "image_id",
    phash_col: str = "phash",
    lon_col: str = "lon",
    lat_col: str = "lat",
    max_tile_contributors: Optional[int] = 20_000,
) -> DataFrame:
    """Geo-blocked perceptual near-dup pairs: candidate pairs are limited to
    images whose centroids fall in the SAME or an 8-neighboring tile at
    ``zoom`` (Chebyshev distance ≤ 1, antimeridian wrap on global grids),
    then exact ``bit_count(xor)`` Hamming ≤ ``max_hamming``.

    The burst-photo dedup shape for planet-scale image corpora: near-dups
    of the same scene are near in SPACE, so spatial blocking bounds the
    quadratic hash comparison to ~ (local density)² per tile instead of a
    corpus self-join — and unlike banded pigeonhole blocking it stays exact
    at ANY Hamming radius within the spatial block.  Pick ``zoom`` so tile
    extent ≳ GPS error + scene size; recall is exact for pairs within one
    tile step (guaranteed once tile extent ≥ max co-location distance).

    Plan shape: one tile assignment projection (native), a 9-way ring
    explode on the probe side (``hierarchy.k_ring`` — wrap/clamp/dedup per
    reference neighbor rules), an equi-join on the tile key, native
    bit_count refine.  Each unordered pair surfaces exactly once: the ring
    tile set is distinct, ``id_a < id_b`` picks one orientation, so a pair
    is generated only under join key = tile(id_b).

    Hot-tile guard (``max_tile_contributors``): the per-tile self-join is
    (local density)² per join key — one dense-city tile at corpus scale
    (10⁶ co-located images → 10¹² candidates) is a single runaway task no
    salt can split, because the candidate SET itself is quadratic.  Tiles
    whose contributor count exceeds the cap are re-blocked WITHIN the tile
    by phash band: the hash is split into ``max_hamming + 1`` bands and the
    hot-side join key becomes (tile, band_idx, band_value).  Pigeonhole
    makes this refine EXACT at radius ``max_hamming`` (≤ max_hamming
    differing bits across max_hamming+1 bands leaves ≥ 1 band equal), so
    the output is IDENTICAL with the guard on or off — it only bounds the
    candidate blow-up per bucket to (density / 2^band_bits)² per band.
    Cold tiles keep the plain one-join path (no explode overhead).
    ``None`` disables the split.  Returns (id_a, id_b, hamming).
    """
    from ..operators import assign, hierarchy

    slim = df.select(
        F.col(id_col), F.col(phash_col).alias("_ph"), F.col(lon_col), F.col(lat_col)
    )
    tiled = assign.with_tile(slim, tp, zoom, lon_col, lat_col, out_tile_id=None)
    probe = hierarchy.k_ring(tiled, tp, 1, zoom=zoom, include_center=True).select(
        F.col(id_col).alias("id_a"),
        F.col("_ph").alias("ph_a"),
        F.col("ring_row").alias("row"),
        F.col("ring_col").alias("col"),
    )
    base = tiled.select(
        F.col(id_col).alias("id_b"), F.col("_ph").alias("ph_b"), "row", "col"
    )
    if max_tile_contributors:
        hot_tiles = F.broadcast(
            base.groupBy("row", "col")
            .agg(F.count("*").alias("_n"))
            .filter(F.col("_n") > max_tile_contributors)
            .select("row", "col")
        )
        cands = (
            probe.join(base.join(hot_tiles, ["row", "col"], "left_anti"), ["row", "col"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "ph_a", "id_b", "ph_b")
        )
        nb = max_hamming + 1
        probe_hot = _banded(
            probe.join(hot_tiles, ["row", "col"], "left_semi"), "ph_a", nb
        )
        base_hot = _banded(
            base.join(hot_tiles, ["row", "col"], "left_semi"), "ph_b", nb
        )
        hot_pairs = (
            probe_hot.join(base_hot, ["row", "col", "_bi", "_bv"])
            .filter(F.col("id_a") < F.col("id_b"))
            .dropDuplicates(["id_a", "id_b"])
            .select("id_a", "ph_a", "id_b", "ph_b")
        )
        cands = cands.unionByName(hot_pairs)
    else:
        cands = (
            probe.join(base, ["row", "col"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "ph_a", "id_b", "ph_b")
        )
    dist = F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b")))
    return (
        cands.withColumn("hamming", dist)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def crossmodal_dup_pairs(
    df: DataFrame,
    max_hamming: int = 2,
    min_jaccard: float = 0.5,
    ngram: int = 3,
    id_col: str = "image_id",
    caption_col: str = "caption",
    max_ids_per_band: Optional[int] = 100_000,
) -> DataFrame:
    """Cross-modal near-duplicate pairs over an image+caption corpus (the
    input_hint table shape): a pair is a duplicate only when BOTH the image
    near-matches (phash Hamming ≤ ``max_hamming``) AND the caption
    near-matches (word-``ngram`` Jaccard ≥ ``min_jaccard``) — the standard
    web-corpus filter where a near-identical image with unrelated alt-text
    (stock photo reused under a new caption) is NOT a duplicate, and an
    identical caption on a different image isn't either.

    Plan shape: the cheap exact image gate runs FIRST and produces the
    candidate set (``phash_dup_pairs``: banded pigeonhole blocking with the
    hot-band cap — the reference's filter-refine discipline,
    _tilepyramid.py:256-269, on the hash domain); the caption verify then
    touches ONLY candidate ids.  Caption shingle sets are bounded (captions
    are short), so they ride as array columns through two equi-joins and
    are intersected natively (``array_intersect`` — single flat expression,
    no nested higher-order lambdas, no Python).  Cost is Θ(|corpus|) for
    hashing/shingling + Θ(|candidates|) for the verify, never |corpus|².

    Returns (id_a, id_b, hamming, jaccard), id_a < id_b.  Pairs where
    either caption yields zero ``ngram``-shingles are dropped (no text
    evidence — same inner-join semantics as the relational Jaccard).
    """
    from . import dedup as dedupfns

    cands = phash_dup_pairs(
        df.select(F.col(id_col), "phash"),
        max_distance=max_hamming,
        id_col=id_col,
        max_ids_per_band=max_ids_per_band,
    ).localCheckpoint(eager=False)  # feeds the id set AND the final join
    # tokenize/shingle ONLY candidate rows: the caption pass is the dominant
    # string cost at corpus scale and |candidate ids| << |corpus| (bounded
    # by the banded blocking + hot-band cap); AQE turns the semi-join into
    # a broadcast at runtime when the id set is small
    cand_ids = (
        cands.select(F.col("id_a").alias(id_col))
        .unionByName(cands.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    slim = df.select(F.col(id_col), F.col(caption_col)).join(
        cand_ids, id_col, "left_semi"
    )
    sh = dedupfns._shingle_table(slim, id_col, caption_col, ngram)
    sets_df = sh.groupBy("_id").agg(F.collect_set("shingle").alias("_sh"))
    a = sets_df.select(F.col("_id").alias("id_a"), F.col("_sh").alias("_sha"))
    b = sets_df.select(F.col("_id").alias("id_b"), F.col("_sh").alias("_shb"))
    inter = F.size(F.array_intersect(F.col("_sha"), F.col("_shb")))
    union = F.size(F.col("_sha")) + F.size(F.col("_shb")) - inter
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "jaccard",
            F.round(inter.cast("double") / F.greatest(union, F.lit(1)), 6),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", "hamming", "jaccard")
    )
