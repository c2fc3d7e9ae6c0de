"""Seeded benchmark inputs, staged as parquet under the benchmark's cache.

Every generator is a pure function of ``(seed, size)``: the same seed gives
byte-identical staged tables.  Staged inputs are cached by
``(workload, size, seed)``.  Nothing the library builds is cached: the
pyramid workload rebuilds its reference pyramid every run, so a change to
the tile layout never reads a fixture built by older code.
"""

from __future__ import annotations

import json
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from tilematrix_spark import images

# R2 low-discrepancy scatter (the images.py spatial law), rotated per seed
PHI1 = images.PHI1
PHI2 = images.PHI2
HOT_BOUNDS = images.HOT_BOUNDS


def cached(cache_dir: Path, key: str, build) -> Path:
    """Return ``cache_dir/key``, running ``build(tmp_dir)`` first when the
    entry is missing.  The entry appears atomically (tmp dir + rename), so a
    run killed mid-build never leaves a half-written input behind."""
    out = cache_dir / key
    if out.exists():
        return out
    cache_dir.mkdir(parents=True, exist_ok=True)
    tmp = cache_dir / f".{key}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    build(tmp)
    os.rename(tmp, out)
    return out


def _write_parts(table: pa.Table, out: Path, parts: int) -> None:
    """Stage a table as ``parts`` parquet files so the scan splits across
    every core (one small file is one input split)."""
    out.mkdir(parents=True, exist_ok=True)
    n = table.num_rows
    bounds = np.linspace(0, n, parts + 1).astype(int)
    for i in range(parts):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), out / f"part-{i:03d}.parquet")


# -- spatial_join ----------------------------------------------------------


def r2_points(seed: int, n: int):
    """(lon, lat) on the images.py law: R2 scatter over the globe, every
    row with ``id % 10 == 3`` inside HOT_BOUNDS.  The seed rotates the
    sequence (Cranley-Patterson shift), keeping its spread."""
    rng = np.random.default_rng([seed, 1])
    u0, u1 = rng.random(2)
    ids = np.arange(n, dtype=np.int64)
    fx = (ids * PHI1 + u0) % 1.0
    fy = (ids * PHI2 + u1) % 1.0
    lon = -180.0 + fx * 360.0
    lat = -90.0 + fy * 180.0
    hot = ids % 10 == 3
    l, b, r, t = HOT_BOUNDS
    lon = np.where(hot, l + fx * (r - l), lon)
    lat = np.where(hot, b + fy * (t - b), lat)
    # keep clear of the grid's closed edges (lat -90 has no valid row)
    lat = np.clip(lat, -89.999, 89.999)
    return ids, lon, lat


def star_polygons(seed: int, count: int, verts: int):
    """``count`` star-shaped (hence simple) rings of ``verts`` vertices:
    one over the hot cluster, the rest on a jittered 10x10 lattice so every
    seed covers the globe alike.  Returns [(poly_id, ring ndarray)]."""
    rng = np.random.default_rng([seed, 2])
    l, b, r, t = HOT_BOUNDS
    centers = [((l + r) / 2, (b + t) / 2)]
    side = int(np.ceil(np.sqrt(count)))
    for i in range(count - 1):
        gx, gy = i % side, i // side
        cx = -160.0 + (gx + 0.2 + 0.6 * rng.random()) * 320.0 / side
        cy = -70.0 + (gy + 0.2 + 0.6 * rng.random()) * 140.0 / side
        centers.append((cx, cy))
    radii = rng.permutation(np.linspace(3.0, 9.0, count))
    ang = np.linspace(0.0, 2.0 * np.pi, verts, endpoint=False)
    out = []
    for pid, ((cx, cy), base) in enumerate(zip(centers, radii)):
        rad = base * (0.6 + 0.4 * rng.random(verts))
        ring = np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])
        out.append((pid, np.vstack([ring, ring[:1]])))
    return out


def stage_spatial(cache: Path, seed: int, n_points: int, n_queries: int, n_polygons: int,
                  verts: int, parts: int) -> Path:
    def build(tmp: Path) -> None:
        ids, lon, lat = r2_points(seed, n_points)
        _write_parts(pa.table({"point_id": ids, "lon": lon, "lat": lat}), tmp / "points", parts)
        rng = np.random.default_rng([seed, 3])
        q = pa.table(
            {
                "qid": np.arange(n_queries, dtype=np.int64),
                "lon": -180.0 + rng.random(n_queries) * 360.0,
                "lat": -80.0 + rng.random(n_queries) * 160.0,
            }
        )
        pq.write_table(q, tmp / "queries.parquet")
        polys = star_polygons(seed, n_polygons, verts)
        geoms = [
            json.dumps({"type": "Polygon", "coordinates": [ring.tolist()]}) for _, ring in polys
        ]
        pq.write_table(
            pa.table({"poly_id": np.asarray([p for p, _ in polys], dtype=np.int64), "geometry": geoms}),
            tmp / "polygons.parquet",
        )

    return cached(cache, f"spatial_join-n{n_points}-q{n_queries}-p{n_polygons}x{verts}-s{seed}", build)


# -- pyramid ---------------------------------------------------------------


# images.make_rows_batch derives an image's shape, format, zoom, hot-cluster
# and edge membership from id residues (mod 16, 5, 8, 10, 97, 101 and
# (id // 97) mod 5); id ranges that start one period apart share all of
# them and differ only in R2 position and pixels
ID_PERIOD = 16 * 5 * 97 * 101


def stage_images(cache: Path, seed: int, n_images: int, n_updates: int, parts: int) -> Path:
    """The images table (images.make_rows_batch: pixels, footprints, the
    spatial law) for a seeded id range; the ``n_updates`` ids after the
    corpus form the append batch.  The range starts a seeded whole number
    of ID_PERIODs in, so every seed stages the same mix of image kinds."""

    def build(tmp: Path) -> None:
        first = 1 + ID_PERIOD * int(np.random.default_rng([seed, 4]).integers(0, 12))
        ids = np.arange(first, first + n_images + n_updates, dtype=np.int64)
        pdf = images.make_rows_batch(ids)
        table = pa.Table.from_pandas(pdf, preserve_index=False)
        _write_parts(table.slice(0, n_images), tmp / "images", parts)
        _write_parts(table.slice(n_images), tmp / "updates", 1)

    return cached(cache, f"pyramid-p{ID_PERIOD}-n{n_images}-u{n_updates}-s{seed}", build)


# -- text_dedup ------------------------------------------------------------

VOCAB = (
    "batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query big key window row table stream merge data join "
    "tile zoom pixel raster vector index shard node cache page block chunk "
    "frame grid cell level map reduce plan task stage job"
).split()


def near_copy_docs(seed: int, n_base: int, copies: int):
    """``n_base`` random documents plus ``copies`` near-copies of each: a
    copy replaces ~5% of its base's tokens and drops one.  doc_id =
    copy * n_base + base, so ids below n_base are the originals."""
    rng = np.random.default_rng([seed, 5])
    vocab = np.asarray(VOCAB)
    p = 1.0 / np.arange(1, len(vocab) + 1)
    p /= p.sum()
    base = [rng.choice(vocab, size=int(rng.integers(40, 80)), p=p) for _ in range(n_base)]
    ids, texts = [], []
    for c in range(copies + 1):
        for i, toks in enumerate(base):
            t = toks.copy()
            if c:
                swap = rng.random(len(t)) < 0.05
                t[swap] = rng.choice(vocab, size=int(swap.sum()))
                t = np.delete(t, int(rng.integers(0, len(t))))
            ids.append(c * n_base + i)
            texts.append(" ".join(t))
    return np.asarray(ids, dtype=np.int64), texts


def perturbed_vectors(seed: int, n_base: int, copies: int, dim: int = 64):
    """``n_base`` random vectors plus ``copies`` noisy copies of each
    (vec_id = copy * n_base + base), float32 like an embedding table."""
    rng = np.random.default_rng([seed, 6])
    base = rng.normal(0.0, 0.1, size=(n_base, dim))
    out = [base]
    for _ in range(copies):
        out.append(base + rng.normal(0.0, 0.01, size=base.shape))
    return np.concatenate(out).astype(np.float32)


def stage_text(cache: Path, seed: int, n_docs: int, doc_copies: int, n_vecs: int,
               vec_copies: int, parts: int) -> Path:
    def build(tmp: Path) -> None:
        ids, texts = near_copy_docs(seed, n_docs, doc_copies)
        _write_parts(pa.table({"doc_id": ids, "text": texts}), tmp / "documents", parts)
        vecs = perturbed_vectors(seed, n_vecs, vec_copies)
        emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), vecs.shape[1])
        table = pa.table(
            {
                "vec_id": np.arange(len(vecs), dtype=np.int64),
                "embedding": emb.cast(pa.list_(pa.float32())),
            }
        )
        _write_parts(table, tmp / "embeddings", parts)

    return cached(
        cache, f"text_dedup-d{n_docs}x{doc_copies}-v{n_vecs}x{vec_copies}-s{seed}", build
    )
