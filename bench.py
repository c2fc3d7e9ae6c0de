"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

``value`` is the total wall time of the headline suite; per-query seconds in
"queries".  Also reports rows/s throughput of the flagship tile-assignment
op and (with --scaling) the two-parallelism scaling-efficiency proxy
(local[8] vs local[32]) required by BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402

HEADLINE = [
    "point_tile_counts",
    "parent_rollup",
    "cover_bbox",
    "neighbors",
    "knn",
    "dedup_exact",
    "minhash_lsh_pairs",
    "simhash",
    "token_stats",
    "cosine_topk",
    "phash_near_dup",
    "user_sessions",
    "raster_windows",
    "focal_stats",
    "bloom_dedup",
]


def make_spark(cpus: str) -> SparkSession:
    # one python worker per core already: BLAS/OpenMP thread pools inside
    # each worker would oversubscribe (inherited by forked workers)
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(f"tilematrix_spark_bench_{cpus}")
        .config("spark.sql.shuffle.partitions", cpus if cpus != "*" else "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # bigger Arrow batches: fewer per-batch python/Arrow fixed costs in
        # the refine kernels (group sizes grow with batch size)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.environ.get("SPARK_LOCAL_DIRS", "/dev/shm/spark-bench"))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        # ParallelGC: measured ~2x less run-to-run variance than G1 on the
        # 32-thread shuffle-heavy kernels in this container
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .getOrCreate()
    )


def run_suite(spark: SparkSession, sf_dir: str) -> dict:
    qs = entrymod.queries()
    # JIT/codegen + parquet-footer warm-up outside the timed region: the
    # first action in a fresh JVM pays whole-stage-codegen compilation and
    # FS metadata, not query cost
    spark.read.parquet(f"{sf_dir}/events.parquet").count()
    qs["matrix_dims"](spark, sf_dir).count()
    timings = {}
    for name in HEADLINE:
        fn = qs[name]
        # best of 2: the first execution of any query pays whole-stage-codegen
        # compilation (measured 4-6x the steady-state for expression-heavy
        # queries, e.g. cosine_topk 7.1s cold vs 1.25s warm) — a per-JVM
        # one-time cost that is noise at cluster scale, not query cost
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            fn(spark, sf_dir).count()
            best = min(best, time.time() - t0)
        timings[name] = round(best, 3)
    return timings


def flagship_throughput(spark: SparkSession, sf_dir: str) -> tuple[float, int]:
    """rows/s of the flagship point->tile assignment + salted count at a
    4M-row working size (the sf0.1 events table alone is 100k rows — pure
    fixed-cost territory; replicate with jitter so the number reflects the
    kernel, still including scan + explode + agg)."""
    from tilematrix_spark.operators import assign

    pts = entrymod._events(spark, sf_dir)
    n_src = pts.count()
    mult = max(1, 4_000_000 // max(n_src, 1))
    rep = pts.withColumn("_k", F.explode(F.sequence(F.lit(0), F.lit(mult - 1))))
    jitter = F.col("_k") * F.lit(0.00005)
    rep = rep.withColumn("lon", F.col("lon") + jitter).withColumn(
        "lat", F.greatest(F.col("lat") - jitter, F.lit(-90.0))
    )
    t0 = time.time()
    tiled = assign.with_tile(rep, entrymod.GEODETIC, 5, "lon", "lat", out_row="tile_row", out_col="tile_col", out_tile_id=None)
    counts = assign.salted_agg(tiled, ["tile_row", "tile_col"], {"n": "count:*"}, salt_buckets=16)
    total = counts.agg(F.sum("n")).collect()[0][0] or 0
    dt = time.time() - t0
    return total / dt if dt > 0 else 0.0, int(total)


def scaling_job(spark: SparkSession, sf_dir: str, multiplier: int = 0) -> tuple[float, int]:
    """The scaling-efficiency workload: events replicated ``multiplier``×
    with jittered coordinates -> z8 tile assignment -> salted per-tile
    counts.  Pure native ops, big enough (40M rows at sf0.1) to amortize job
    overhead.  The single small parquet file would otherwise land in 1-2
    input splits, so repartition to the cluster parallelism first — on a
    real cluster the scan itself would already be split.
    """
    import __spark_entry__ as em
    from tilematrix_spark.operators import assign

    par = spark.sparkContext.defaultParallelism * 2
    pts = em._events(spark, sf_dir).repartition(par)
    if not multiplier:
        # fixed ~40M-row workload regardless of sf, so the measurement
        # amortizes job overhead identically at every scale factor
        multiplier = max(1, 40_000_000 // max(pts.count(), 1))
    rep = pts.withColumn("_k", F.explode(F.sequence(F.lit(0), F.lit(multiplier - 1))))
    jitter = (F.col("_k") * F.lit(0.0001))
    rep = rep.withColumn("lon", F.col("lon") + jitter).withColumn("lat", F.greatest(F.col("lat") - jitter, F.lit(-90.0)))
    t0 = time.time()
    tiled = assign.with_tile(rep, em.GEODETIC, 8, "lon", "lat", out_tile_id=None)
    salts = assign.salt_buckets_for_zoom(em.GEODETIC, 8)
    counts = assign.salted_agg(tiled, ["row", "col"], {"n": "count:*"}, salt_buckets=salts)
    total = counts.agg(F.sum("n")).collect()[0][0] or 0
    dt = time.time() - t0
    return total / dt if dt > 0 else 0.0, int(total)


def _scaling_polygons(spark: SparkSession, m: int = 100, verts: int = 400):
    """Deterministic wobbly star polygons scattered over the globe — the
    region side of the flagship tile-index + PIP join (BASELINE.json metric).
    ~400 edges each makes the Arrow ray-cast refine the dominant cost, like
    real admin/footprint polygons (vs the 3-5-vertex toy regions)."""
    import json
    import math

    import __spark_entry__ as em

    rows = []
    for i in range(m):
        cx = -180.0 + ((i * em.PHI1) % 1.0) * 360.0
        cy = -75.0 + ((i * em.PHI2) % 1.0) * 150.0
        base_r = 6.0 + (i % 7) * 2.0
        pts = []
        for j in range(verts):
            ang = 2.0 * math.pi * j / verts
            r = base_r * (0.6 + 0.4 * ((j * i + j * j) % 10) / 10.0)
            pts.append(
                (cx + r * math.cos(ang), max(min(cy + r * math.sin(ang), 89.9), -89.9))
            )
        pts.append(pts[0])
        rows.append((i, json.dumps({"type": "Polygon", "coordinates": [pts]})))
    return spark.createDataFrame(rows, "poly_id long, geometry string")


def pip_scaling_job(spark: SparkSession, n_points: int) -> float:
    """points/s of the flagship pipeline: point->tile index + broadcast
    tile->polygon join + Arrow ray-cast PIP refine (the BASELINE.json
    'tile-index + PIP join' metric)."""
    import __spark_entry__ as em
    from tilematrix_spark.operators import pip as pip_ops

    polys = _scaling_polygons(spark)
    par = spark.sparkContext.defaultParallelism * 2
    pts = spark.range(0, n_points, numPartitions=par).select(
        F.col("id").alias("point_id"),
        (F.lit(-180.0) + (F.col("id") * F.lit(em.PHI1)) % F.lit(1.0) * F.lit(360.0)).alias("lon"),
        (F.lit(-90.0) + (F.col("id") * F.lit(em.PHI2)) % F.lit(1.0) * F.lit(180.0)).alias("lat"),
    )
    t0 = time.time()
    out = pip_ops.pip_join(pts, polys, em.GEODETIC, zoom=4, fused=True)
    n = out.count()
    dt = time.time() - t0
    assert n > 0
    return n_points / dt


def compose_skew_job(spark: SparkSession) -> dict:
    """Skewed mosaic composition: one hot z6 tile holding ~100x the median
    per-tile contributor count (4000 images with an identical footprint
    strictly inside tile (17, 67), plus 4000 globally scattered images).
    Times the default compose (map-side decode into covered-pixel partials,
    one exchange) with a noop write, so every output column is built; the
    hot tile's decode work spreads over the scan tasks holding its
    contributors."""
    import __spark_entry__ as em
    from tilematrix_spark import images, raster

    import os as _os
    import tempfile as _tf

    par = spark.sparkContext.defaultParallelism * 2
    hot = (
        images.images_df(spark, 4000, partitions=par)
        .withColumn("fp_left", F.lit(8.6)).withColumn("fp_right", F.lit(11.1))
        .withColumn("fp_bottom", F.lit(39.5)).withColumn("fp_top", F.lit(42.0))
    )
    cold = images.images_df(spark, 4000, partitions=par)
    # stage through parquet: the production shape (input is a table, not a
    # generator)
    path = _os.path.join(_tf.gettempdir(), "tmx_bench_compose_skew")
    hot.unionByName(cold).write.mode("overwrite").parquet(path)
    df = spark.read.parquet(path)
    # JIT/Arrow warm-up on a tiny compose
    raster.compose_tiles(images.images_df(spark, 64, partitions=4), em.GEODETIC, 3).write.format(
        "noop").mode("overwrite").save()
    best = float("inf")
    for _ in range(2):
        t0 = time.time()
        raster.compose_tiles(df, em.GEODETIC, 6).write.format("noop").mode("overwrite").save()
        best = min(best, time.time() - t0)
    return {
        "hot_contributors": 4000,
        "compose_sec": round(best, 3),
        "imgs_per_sec": round(8000 / best) if best > 0 else None,
    }


def spatial_phash_skew_job(spark: SparkSession) -> dict:
    """Hot-tile guard for geo-blocked phash dedup: 400k rows following the
    images.py spatial law (same HOT_BOUNDS cluster, same 10% hot fraction,
    same R2 scatter — generated natively so no pixel bytes are staged) —
    per-tile density ~2500x the median, so the per-tile self-join's
    candidate set is quadratic in exactly the way one dense city is at
    corpus scale (~4x10^8 candidates under ONE join key).  Times the
    guarded path (within-tile banded re-block, output provably identical)
    against the unguarded path on the SAME input, and reports the peak
    per-join-key candidate count both ways — the unguarded peak is the one
    runaway task no salt can split.  Every 997th row has a planted
    near-dup clone (1 flipped bit, ~1km offset) so the pair output — and
    the guarded==unguarded equality assert — is non-trivial."""
    import __spark_entry__ as em
    from tilematrix_spark import images
    from tilematrix_spark.functions import multimodal as mm
    from tilematrix_spark.operators import assign, hierarchy

    n, zoom, cap = 400_000, 6, 2_000
    par = spark.sparkContext.defaultParallelism * 2
    l, b, r, t = images.HOT_BOUNDS
    base = spark.range(0, n, numPartitions=par).select(
        F.col("id").alias("image_id"),
        F.xxhash64(F.col("id")).alias("phash"),
        F.when(
            F.col("id") % 10 == 3,
            F.lit(l) + (F.col("id") * F.lit(images.PHI1)) % F.lit(1.0) * F.lit(r - l),
        ).otherwise(
            F.lit(-180.0) + (F.col("id") * F.lit(images.PHI1)) % F.lit(1.0) * F.lit(360.0)
        ).alias("lon"),
        F.when(
            F.col("id") % 10 == 3,
            F.lit(b) + (F.col("id") * F.lit(images.PHI2)) % F.lit(1.0) * F.lit(t - b),
        ).otherwise(
            F.lit(-90.0) + (F.col("id") * F.lit(images.PHI2)) % F.lit(1.0) * F.lit(180.0)
        ).alias("lat"),
    )
    clones = base.filter(F.col("image_id") % 997 == 0).select(
        (F.col("image_id") + n).alias("image_id"),
        F.col("phash").bitwiseXOR(F.lit(1).cast("long")).alias("phash"),
        F.least(F.col("lon") + F.lit(0.01), F.lit(180.0)).alias("lon"),
        "lat",
    )
    df = base.unionByName(clones).localCheckpoint(eager=True)

    # candidate-peak diagnostics (pure aggregates — the join itself never
    # materializes the unguarded peak bucket)
    tiled = assign.with_tile(df, em.GEODETIC, zoom, out_tile_id=None)
    base_cnt = tiled.groupBy("row", "col").agg(F.count("*").alias("nb"))
    probe_cnt = (
        hierarchy.k_ring(tiled, em.GEODETIC, 1, zoom=zoom)
        .groupBy(F.col("ring_row").alias("row"), F.col("ring_col").alias("col"))
        .agg(F.count("*").alias("np"))
    )
    peak_unguarded = (
        probe_cnt.join(base_cnt, ["row", "col"])
        .agg(F.max(F.col("np") * F.col("nb")))
        .collect()[0][0]
    )
    nb_bands = 7  # max_hamming 6 + 1
    hot_tiles = base_cnt.filter(F.col("nb") > cap).select("row", "col")
    hot_banded = mm._banded(
        tiled.join(F.broadcast(hot_tiles), ["row", "col"], "left_semi").select(
            "row", "col", "phash"
        ),
        "phash",
        nb_bands,
    )
    hot_bucket_cnt = hot_banded.groupBy("row", "col", "_bi", "_bv").agg(
        F.count("*").alias("nb")
    )
    peak_hot_bucket = hot_bucket_cnt.agg(F.max("nb")).collect()[0][0] or 0

    # JIT/Arrow warm-up
    mm.spatial_phash_pairs(df.limit(2000), em.GEODETIC, zoom).count()
    guarded, unguarded = float("inf"), float("inf")
    n_g = n_u = 0
    for _ in range(2):  # interleaved best-of-2 (host drift discipline)
        t0 = time.time()
        n_g = mm.spatial_phash_pairs(
            df, em.GEODETIC, zoom, max_tile_contributors=cap
        ).count()
        guarded = min(guarded, time.time() - t0)
        t0 = time.time()
        n_u = mm.spatial_phash_pairs(
            df, em.GEODETIC, zoom, max_tile_contributors=None
        ).count()
        unguarded = min(unguarded, time.time() - t0)
    assert n_g == n_u  # the guard is output-invariant (pigeonhole-exact)
    return {
        "images": n,
        "zoom": zoom,
        "cap": cap,
        "pairs": n_g,
        "peak_candidates_per_key_unguarded": int(peak_unguarded or 0),
        # guarded peak: per (tile, band) bucket, ≤ peak_hot_bucket² worst
        # case — report the bucket size (the bound's driver)
        "peak_hot_bucket_rows_guarded": int(peak_hot_bucket),
        "guarded_sec": round(guarded, 3),
        "unguarded_sec": round(unguarded, 3),
        "guarded_speedup": round(unguarded / guarded, 2) if guarded > 0 else None,
    }


def incremental_vs_full_job(spark: SparkSession) -> dict:
    """Incremental pyramid maintenance vs full rebuild: a 500-image append
    batch against a 100k-image corpus at z6.  Full = recompose every
    covered tile from the new corpus; incremental = recompose only the
    dirty cover (broadcast semi-join keeps clean tiles' bytes out of the
    shuffle).  The ratio grows ∝ corpus/|updates| (the full side scales
    with corpus, the incremental side with the update batch); 100k is the
    smallest corpus on this box where compose work dominates per-job fixed
    costs (at 4k images BOTH sides are ~9s of overhead and the comparison
    inverts into noise — measured 2026-08-17)."""
    import os as _os
    import tempfile as _tf

    import __spark_entry__ as em
    from tilematrix_spark import images, incremental, raster

    par = spark.sparkContext.defaultParallelism * 2
    n_old, n_upd = 100_000, 500
    path = _os.path.join(_tf.gettempdir(), "tmx_bench_incremental")
    images.images_df(spark, n_old + n_upd, partitions=par).write.mode(
        "overwrite"
    ).parquet(path)
    df = spark.read.parquet(path)
    split = "img%012d" % n_old
    old = df.filter(F.col("image_id") < split)
    upd = df.filter(F.col("image_id") >= split)
    # warm-up: JIT/codegen on a tiny compose + page cache for the staged
    # parquet (first full run otherwise reads 2x slower cold: 95s vs 44s)
    raster.compose_tiles(images.images_df(spark, 64, partitions=4), em.GEODETIC, 3).count()
    df.agg(F.sum(F.length("bytes"))).collect()
    t0 = time.time()
    n_full = raster.compose_tiles(df, em.GEODETIC, 6).count()
    full = time.time() - t0
    t0 = time.time()
    n_dirty = incremental.incremental_compose(old, upd, em.GEODETIC, 6).count()
    inc = time.time() - t0
    return {
        "corpus": n_old,
        "updates": n_upd,
        "full_tiles": n_full,
        "dirty_tiles": n_dirty,
        "dirty_fraction": round(n_dirty / max(n_full, 1), 4),
        "full_rebuild_sec": round(full, 3),
        "incremental_sec": round(inc, 3),
        "speedup": round(full / inc, 2) if inc > 0 else None,
    }


def _base_tiles(spark: SparkSession, zoom: int, tile_px: int):
    """Deterministic full-matrix composed-tile set at ``zoom`` (geodetic):
    one raw-RGB tile per (row, col) with a per-tile gradient fill — the
    shape ``compose_tiles`` emits, generated without the compose cost so the
    overview chain is measured in isolation."""
    import numpy as np
    import pandas as pd

    width = 2 ** (zoom + 1)
    n = width * (2 ** zoom)
    par = spark.sparkContext.defaultParallelism * 2
    base = np.arange(tile_px * tile_px * 3, dtype=np.uint32)

    def gen(it):
        for pdf in it:
            ids = pdf["id"].to_numpy()
            yield pd.DataFrame(
                {
                    "row": ids // width,
                    "col": ids % width,
                    "tile_w": tile_px,
                    "tile_h": tile_px,
                    "bytes": [((base + int(i)) % 251).astype(np.uint8).tobytes() for i in ids],
                }
            )

    return spark.range(0, n, numPartitions=par).mapInPandas(
        gen, "row long, col long, tile_w int, tile_h int, bytes binary"
    )


def overview_chain_job(spark: SparkSession, base_zoom: int = 6, tile_px: int = 64) -> float:
    """child-tiles-consumed/s of the full overview downsample chain
    base_zoom → 0 (every level's 2x2 box-filter + quadrant placement).
    Bounded ≤4 rows per group at every level — the chain's wall time is the
    per-level shuffle + Arrow kernel, no skew possible."""
    from tilematrix_spark import raster

    levels = raster.build_overviews(_base_tiles(spark, base_zoom, tile_px), base_zoom, 0)
    t0 = time.time()
    n_top = levels[0].count()  # one action computes the whole lazy chain
    dt = time.time() - t0
    assert n_top == 2
    # children consumed = every tile at zooms base..1
    consumed = sum(2 * 4 ** z for z in range(1, base_zoom + 1))
    return consumed / dt


def scaling_worker(job: str, cpus: str, sf_dir: str) -> None:
    """Subprocess entry: run one scaling measurement in a fresh JVM and
    print the best rate on the last stdout line."""
    s = make_spark(cpus)
    s.sparkContext.setLogLevel("ERROR")
    if job == "tile":
        scaling_job(s, sf_dir)  # JIT warm-up
        rate = max(scaling_job(s, sf_dir)[0] for _ in range(3))
    elif job == "overview":
        # z8 x 48px: ~131k base tiles / ~900MB of pixels through the chain,
        # long enough per run that JVM/jit flat costs amortize
        overview_chain_job(s, 5, 48)  # JIT + Arrow warm-up
        rate = max(overview_chain_job(s, 8, 48) for _ in range(2))
    elif job == "pip":
        # 48M points: long enough (~16-30s/run) that host-state swing can't
        # dominate a measurement, and the per-job flat share amortizes (12M
        # runs read 30-70% low and once even inverted the 8/32 pair)
        pip_scaling_job(s, 1_000_000)  # JIT + Arrow warm-up
        rate = max(pip_scaling_job(s, 48_000_000) for _ in range(2))
    elif job == "focal":
        # 25600 tiles x 256px (~1.7GB band): the halo-exchange stencil —
        # one strips+plane exchange, Arrow assemble kernel.  96x96 keeps
        # the work term above the per-job fixed-cost floor (48x48 ran
        # ~5s and measured pure noise across windows).  Canvas rows are
        # ~650KB: the suite-wide 65536-record Arrow batches build
        # multi-hundred-MB pandas frames per reduce task (measured 5.2x
        # slower end-to-end) — cap records so batches stay ~10-50MB
        s.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "128")
        focal_scaling_job(s, 12)  # JIT + Arrow warm-up (also stages 12x12)
        rate = max(focal_scaling_job(s, 160) for _ in range(2))
    else:
        verify_scaling_job(s, 20000)
        rate = max(verify_scaling_job(s, 200000) for _ in range(2))
    s.stop()
    print(rate)


def spin_control(procs: int, dur: float = 6.0) -> float:
    """Hardware-envelope control: pure-register python compute, no Spark, no
    memory traffic.  Whatever efficiency THIS loses between two process
    counts is the machine's ceiling (turbo/steal/throttle), not the
    engine's — report job efficiencies against it."""
    import multiprocessing as mp

    def spin(q):
        x = 1
        t0 = time.time()
        n = 0
        while time.time() - t0 < dur:
            for _ in range(100000):
                x = (x * 1103515245 + 12345) & 0x7FFFFFFF
            n += 100000
        q.put(n)

    q = mp.Queue()
    ps = [mp.Process(target=spin, args=(q,)) for _ in range(procs)]
    t0 = time.time()
    for p in ps:
        p.start()
    total = sum(q.get() for _ in ps)
    for p in ps:
        p.join()
    return total / (time.time() - t0)


def main() -> None:
    if "--scaling-worker" in sys.argv:
        i = sys.argv.index("--scaling-worker")
        scaling_worker(sys.argv[i + 1], sys.argv[i + 2], sys.argv[i + 3])
        return
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    do_scaling = "--no-scaling" not in sys.argv

    spark = make_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    timings = run_suite(spark, sf_dir)
    rows_per_s, n_rows = flagship_throughput(spark, sf_dir)
    compose_skew = compose_skew_job(spark)
    phash_skew = spatial_phash_skew_job(spark)
    incremental = incremental_vs_full_job(spark)
    overview_chain_job(spark, 4, 64)  # warm-up
    overview_tiles_per_s = overview_chain_job(spark, 6, 64)
    total = round(sum(timings.values()), 3)

    # full (verbose) result — written to BENCH/last_run_full.json; the
    # stdout line is a COMPACT subset because the driver records only the
    # last 2000 chars of stdout (BENCH_r04's verbose line overflowed that
    # window and parsed as null — VERDICT r4 item #2)
    result = {
        "metric": "headline-suite wall time, warm best-of-2 per query (tile assignment, covers, kNN, dedup, similarity, phash, sessions, raster windows)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "flagship_rows_per_sec": round(rows_per_s),
        "flagship_rows": n_rows,
        "cpus": cpus,
        "compose_skew": compose_skew,
        "spatial_phash_skew": phash_skew,
        "incremental": incremental,
        "overview_child_tiles_per_sec": round(overview_tiles_per_s),
    }

    if do_scaling:
        spark.stop()
        stream = {}
        compute = {}
        # one fresh PROCESS per (job, parallelism): SparkSession.stop() keeps
        # the py4j JVM alive, so in-process measurements inherit the previous
        # job's heap/GC state and python-worker RSS (measured 2x drift)
        import subprocess

        def measure(job: str, cpus: str) -> float:
            # brief cooldown: sustained load drifts turbo clocks ~±30%,
            # penalizing whichever measurement runs last (unattributable from inside the guest: reported MHz is static, steal ~1.5%)
            time.sleep(5)
            return float(
                subprocess.run(
                    [sys.executable, __file__, "--scaling-worker", job, cpus, sf_dir],
                    capture_output=True, text=True, check=True,
                ).stdout.strip().splitlines()[-1]
            )

        # interleaved pairs, best of two subprocesses per level: this box's
        # python-stage throughput at 32 threads swings 2-3x with invisible
        # host state; a single unlucky subprocess would poison the ratio.
        # A spin control runs IMMEDIATELY BEFORE each measurement and the
        # one simultaneous with the winning rate is kept per (job, level):
        # every efficiency below carries its own host envelope, so a
        # degraded-window artifact (the r3 overview 0.113) self-labels.
        flagship = {}
        overview = {}
        focal = {}
        spin_at: dict[str, dict[str, float]] = {}
        rounds = {"pip": 2, "verify": 2, "tile": 2, "overview": 2, "focal": 2}
        for tgt, job in ((flagship, "pip"), (compute, "verify"), (stream, "tile"), (overview, "overview"), (focal, "focal")):
            spin_at[job] = {}
            for cpus in ("8", "32") * rounds[job]:
                env = spin_control(int(cpus), dur=3.0)
                rate = measure(job, cpus)
                if rate > tgt.get(cpus, 0.0):
                    tgt[cpus] = rate
                    spin_at[job][cpus] = env

        def spin_fields(job: str) -> dict:
            s8 = spin_at[job].get("8", 0.0)
            s32 = spin_at[job].get("32", 0.0)
            return {
                f"{job}_spin_at_measure_mops_8": round(s8 / 1e6, 1),
                f"{job}_spin_at_measure_mops_32": round(s32 / 1e6, 1),
                f"{job}_spin_envelope_8_to_32": round(s32 / (4 * s8), 3) if s8 else None,
            }

        env8 = spin_control(8)
        env32 = spin_control(32)
        result["scaling"] = {
            # FLAGSHIP (BASELINE.json metric): tile-index + PIP join, fused
            # broadcast lookup + Arrow ray-cast refine, 48M points x 100
            # 400-vertex polygons
            "pip_join_points_per_sec_local8": round(flagship["8"]),
            "pip_join_points_per_sec_local32": round(flagship["32"]),
            "pip_join_efficiency_8_to_32": round(flagship["32"] / (4 * flagship["8"]), 3),
            **spin_fields("pip"),
            # streaming kernel: native tile-assign + salted agg (memory-
            # bandwidth-bound on one node; saturates ~4-8 local cores —
            # bandwidth scales with NODES on a real cluster)
            "tile_assign_rows_per_sec_local8": round(stream["8"]),
            "tile_assign_rows_per_sec_local32": round(stream["32"]),
            "tile_assign_efficiency_8_to_32": round(stream["32"] / (4 * stream["8"]), 3),
            **spin_fields("tile"),
            # compute-bound kernel: Arrow-batched decode+PSNR+phash verify
            "image_verify_imgs_per_sec_local8": round(compute["8"]),
            "image_verify_imgs_per_sec_local32": round(compute["32"]),
            "image_verify_efficiency_8_to_32": round(compute["32"] / (4 * compute["8"]), 3),
            **spin_fields("verify"),
            # overview chain: z8 full-matrix 2x2 box-filter pyramid build
            # (Arrow compute + one narrow shuffle per level)
            "overview_child_tiles_per_sec_local8": round(overview["8"]),
            "overview_child_tiles_per_sec_local32": round(overview["32"]),
            "overview_efficiency_8_to_32": round(overview["32"] / (4 * overview["8"]), 3),
            **spin_fields("overview"),
            # halo-exchange stencil: strips + bounded-plane assemble
            "focal_tiles_per_sec_local8": round(focal["8"]),
            "focal_tiles_per_sec_local32": round(focal["32"]),
            "focal_efficiency_8_to_32": round(focal["32"] / (4 * focal["8"]), 3),
            **spin_fields("focal"),
            # hardware envelope: pure-register python, no Spark/no memory —
            # the best ANY sustained job can scale on this box right now
            "spin_control_mops_8": round(env8 / 1e6, 1),
            "spin_control_mops_32": round(env32 / 1e6, 1),
            "spin_control_efficiency_8_to_32": round(env32 / (4 * env8), 3),
        }
        if "--no-cluster" not in sys.argv:
            # multi-JVM evidence: real separate executor JVMs (1 vs 4) are
            # the closest one-box proxy to N vs 4N executors — the
            # Python/Arrow side scales with executor JVM count, not threads
            sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools"))
            import cluster_scaling

            # focal's and minhash's cluster legs are recorded in
            # BENCH/BASELINE.md from dedicated runs (focal 1x8 2221 -> 4x8
            # 2758 tiles/s, focal_t4 0.913; minhash_t4 cross-pass best-of
            # 0.803) — keeping them out of the per-round bench bounds its
            # wall time
            cluster = cluster_scaling.run(("tile", "pip"), rounds=2, sf_dir=sf_dir)
            # the same 1-vs-4-executor step at 4 threads/executor: the 4N
            # leg stays under this box's memory-bus knee (spin envelope
            # 0.95+ vs ~0.78 at 8 threads), so the executor-count lever is
            # measured with the shared-DRAM term mostly removed — the
            # cleanest N->4N exhibit this box can produce
            cluster["pip_t4"] = cluster_scaling.run(
                ("pip",), rounds=2, sf_dir=sf_dir, threads=4
            )["pip"]
            result["scaling"]["cluster"] = cluster

    print(json.dumps(_compact(result)))
    try:
        os.makedirs(os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH"), exist_ok=True)
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH", "last_run_full.json"), "w"
        ) as f:
            json.dump(result, f, indent=1)
    except OSError:
        pass  # the stdout line is the contract; the sidecar is best-effort


def _compact(result: dict) -> dict:
    """The driver records only the LAST 2000 chars of stdout, so the one
    JSON line it parses must fit that window (BENCH_r04's ~2.9k-char
    verbose line lost its head and parsed as null).  Same top-level
    contract (metric/value/unit/queries/sf) + the headline scalars; the
    skew/incremental/scaling blocks keep their numbers under short keys
    (schema documented in BASELINE.md §bench-line; full verbose mirror in
    BENCH/last_run_full.json).  Guard-rail: if a pathological value blows
    the budget anyway, blocks drop least-important-first."""
    out = {
        "metric": "headline-suite wall time, warm best-of-2 per query",
        "value": result["value"],
        "unit": "sec",
        "queries": result["queries"],
        "sf": result["sf"],
        "cpus": result["cpus"],
        "flagship_rows_per_sec": result["flagship_rows_per_sec"],
        "overview_child_tiles_per_sec": result["overview_child_tiles_per_sec"],
    }
    cs, ps, inc = result["compose_skew"], result["spatial_phash_skew"], result["incremental"]
    out["compose_skew"] = {"compose_s": cs["compose_sec"], "imgs_per_s": cs["imgs_per_sec"]}
    out["phash_skew"] = {
        "pairs": ps["pairs"],
        "peak_unguarded": ps["peak_candidates_per_key_unguarded"],
        "peak_guarded": ps["peak_hot_bucket_rows_guarded"],
        "guarded_s": ps["guarded_sec"], "unguarded_s": ps["unguarded_sec"],
    }
    out["incremental"] = {
        "dirty_frac": inc["dirty_fraction"], "full_s": inc["full_rebuild_sec"],
        "inc_s": inc["incremental_sec"], "speedup": inc["speedup"],
    }
    if "scaling" in result:
        s = result["scaling"]
        sc = {}
        for job, rate_key in (
            ("pip", "pip_join_points_per_sec"),
            ("tile", "tile_assign_rows_per_sec"),
            ("verify", "image_verify_imgs_per_sec"),
            ("overview", "overview_child_tiles_per_sec"),
            ("focal", "focal_tiles_per_sec"),
        ):
            eff_key = {
                "pip": "pip_join_efficiency_8_to_32",
                "tile": "tile_assign_efficiency_8_to_32",
                "verify": "image_verify_efficiency_8_to_32",
                "overview": "overview_efficiency_8_to_32",
                "focal": "focal_efficiency_8_to_32",
            }[job]
            sc[job] = {
                "r8": s[f"{rate_key}_local8"],
                "r32": s[f"{rate_key}_local32"],
                "eff": s[eff_key],
                "env": s[f"{job}_spin_envelope_8_to_32"],
            }
        sc["spin_eff"] = s["spin_control_efficiency_8_to_32"]
        if "cluster" in s:
            sc["cluster"] = s["cluster"]
        out["scaling"] = sc
    # least-important-first shedding if we ever approach the tail window
    for victim in ("compose_skew", "incremental", "phash_skew", "queries"):
        if len(json.dumps(out)) <= 1900:
            break
        out.pop(victim, None)
    return out


_VERIFY_STAGED: dict = {}


def verify_scaling_job(spark: SparkSession, n: int) -> float:
    """imgs/s of the compute-bound per-row verification pipeline.  The
    synthetic-image GENERATION is staged to parquet OUTSIDE the timed
    region (VERDICT r4 item #4: generation is DRAM-bound and was inflating
    the kernel's apparent scaling gap) — the timed region is scan + Arrow
    decode/PSNR/phash verify, the production shape."""
    import os as _os
    import tempfile as _tf
    import time as _t

    from tilematrix_spark import images, raster

    par = spark.sparkContext.defaultParallelism * 2
    path = _VERIFY_STAGED.get(n)
    if path is None:
        path = _os.path.join(_tf.gettempdir(), f"tmx_bench_verify_{n}")
        images.images_df(spark, n, partitions=par).write.mode("overwrite").parquet(path)
        # warm the page cache so the first timed run isn't a cold read
        spark.read.parquet(path).agg(F.sum(F.length("bytes"))).collect()
        _VERIFY_STAGED[n] = path
    # NO repartition: the stage wrote 2x-cores files, so the scan is already
    # parallel — a repartition here shuffles every image's bytes, which is
    # JVM-local noise at local[N] but a full cross-JVM byte shuffle at
    # local-cluster[4,...] (measured NEGATIVE 4-executor scaling, 24.1k ->
    # 19.2k imgs/s, entirely from shuffling the bytes the kernel was about
    # to read anyway).  Production shape: scan -> verify, bytes never move.
    df = spark.read.parquet(path)
    v = raster.verify_images(df)
    t0 = _t.time()
    ok = v.agg(F.sum(F.col("ok").cast("int"))).collect()[0][0]
    dt = _t.time() - t0
    assert ok == n, f"verification failed: {ok}/{n}"
    return n / dt


_FOCAL_STAGED: dict = {}


def _stage_focal_corpus(spark: SparkSession, n_side: int) -> str:
    """Stage (or reuse) the deterministic n_side x n_side 256px formula-
    canvas corpus as parquet and return its path — generation stays
    OUTSIDE every timed region (the verify-job discipline); a staging left
    by a previous subprocess at the same n_side is byte-identical and
    reused instead of paying the ~1.7GB write per scaling worker."""
    import os as _os
    import tempfile as _tf

    path = _FOCAL_STAGED.get(n_side)
    if path is None:
        # the generator is deterministic: a staging left by a previous
        # subprocess (same n_side) is byte-identical — reuse it instead of
        # paying the ~1.7GB write per scaling-worker process
        cand = _os.path.join(_tf.gettempdir(), f"tmx_bench_focal_{n_side}")
        try:
            if spark.read.parquet(cand).count() == n_side * n_side:
                spark.read.parquet(cand).agg(F.sum(F.length("bytes"))).collect()
                _FOCAL_STAGED[n_side] = cand
                path = cand
        except Exception:
            path = None
    if path is None:
        grid = (
            spark.range(n_side)
            .select(F.col("id").alias("row"))
            .crossJoin(spark.range(n_side).select(F.col("id").alias("col")))
            .repartition(spark.sparkContext.defaultParallelism * 2)
        )

        def gen(batches):
            import numpy as np
            import pandas as pd

            i = np.arange(256, dtype=np.int64)[:, None]
            j = np.arange(256, dtype=np.int64)[None, :]
            base = 3 * i + 7 * j
            for pdf in batches:
                if not len(pdf):
                    continue
                rows = pdf["row"].to_numpy()
                cols = pdf["col"].to_numpy()
                bufs = [
                    ((base + 11 * int(r) + 13 * int(c)) % 251)
                    .astype(np.uint8)
                    .tobytes()
                    for r, c in zip(rows, cols)
                ]
                yield pd.DataFrame(
                    {
                        "row": rows,
                        "col": cols,
                        "tile_w": np.full(len(pdf), 256, dtype=np.int32),
                        "tile_h": np.full(len(pdf), 256, dtype=np.int32),
                        "bytes": bufs,
                    }
                )

        tiles = grid.mapInPandas(
            gen, "row long, col long, tile_w int, tile_h int, bytes binary"
        )
        path = _os.path.join(_tf.gettempdir(), f"tmx_bench_focal_{n_side}")
        tiles.write.mode("overwrite").parquet(path)
        spark.read.parquet(path).agg(F.sum(F.length("bytes"))).collect()
        _FOCAL_STAGED[n_side] = path
    return path


def focal_scaling_job(spark: SparkSession, n_side: int) -> float:
    """tiles/s of the halo-exchange stencil (focal_stats canvas emit,
    radius=2, 256px single-band tiles) over an n_side x n_side block at z6
    geodetic.  The timed region is scan -> strip exchange -> assemble/stat,
    the production shape.  The only exchange is the strips+plane groupBy —
    the operator whose scaling story is 'shuffle ~= corpus + 3% halo
    traffic'."""
    import time as _t

    from tilematrix_spark import raster

    path = _stage_focal_corpus(spark, n_side)
    df = spark.read.parquet(path)
    # z7 geodetic: 128x256 matrix — covers any n_side <= 128
    out = raster.focal_stats(df, entrymod.GEODETIC, 7, radius=2, emit="canvas")
    t0 = _t.time()
    n_out = out.count()
    dt = _t.time() - t0
    assert n_out == n_side * n_side, f"focal produced {n_out}/{n_side**2}"
    return n_out / dt


def cc_scaling_job(spark: SparkSession, n_side: int) -> float:
    """tiles/s of cross-tile connected-component labeling
    (raster.label_components, threshold 128 -> 49% foreground in long
    diagonal stripes, the worst shape for the merge) over the same staged
    formula corpus — the GRAPH-MERGE family leg of the executor-scaling
    ladder: per-tile python CCL kernels (the per-JVM Arrow/python-worker
    lever, like focal/verify) plus the iterative label-propagation rounds
    (JVM joins, like minhash).  Timing forces every output column through
    an aggregate — count() alone would prune the perimeter branch."""
    import time as _t

    from tilematrix_spark import raster

    path = _stage_focal_corpus(spark, n_side)
    df = spark.read.parquet(path)
    t0 = _t.time()
    out = raster.label_components(df, threshold=128)
    res = out.agg(
        F.count("*"), F.sum("area"), F.sum("perimeter"), F.max("n_tiles")
    ).collect()[0]
    dt = _t.time() - t0
    assert res[0] > 0 and res[1] > 0
    return n_side * n_side / dt


_MINHASH_STAGED: dict = {}


def minhash_scaling_job(spark: SparkSession, n_docs: int) -> float:
    """docs/s of the MinHash-LSH near-dup pair pipeline (16 hashes, 8
    bands) over a deterministic synthetic corpus — the TEXT-family leg of
    the executor-scaling ladder.  Unlike the Arrow-bound stencil/verify
    legs this pipeline is JVM-native end to end (shingle explode, md5
    signature aggregation, banded self-join): what a 4x executor step
    multiplies here is heap + shuffle service + GC parallelism, the
    native-pipeline counterpart of the per-JVM Arrow lever.  Corpus
    GENERATION is staged to parquet outside the timed region and reused
    across scaling-worker subprocesses (deterministic bytes, the focal-job
    discipline); ~5% of docs are near-duplicates so the band join does
    real pair work."""
    import os as _os
    import tempfile as _tf
    import time as _t

    from tilematrix_spark.functions import dedup as dedupfns

    path = _MINHASH_STAGED.get(n_docs)
    if path is None:
        cand = _os.path.join(_tf.gettempdir(), f"tmx_bench_minhash_{n_docs}")
        try:
            if spark.read.parquet(cand).count() == n_docs:
                spark.read.parquet(cand).agg(F.sum(F.length("text"))).collect()
                _MINHASH_STAGED[n_docs] = cand
                path = cand
        except Exception:
            path = None
    if path is None:
        par = spark.sparkContext.defaultParallelism * 2

        def gen(batches):
            import numpy as np
            import pandas as pd

            vocab = np.array([f"w{v:03d}" for v in range(1000)])
            k = np.arange(64, dtype=np.int64)
            for pdf in batches:
                if not len(pdf):
                    continue
                ids = pdf["id"].to_numpy()
                texts = []
                for i in ids:
                    base = int(i)
                    if base % 20 == 1:  # near-dup of the previous doc
                        src = base - 1
                        toks = (src * 17 + k * k * 31 + (src % 97) * k) % 1000
                        toks = toks.copy()
                        toks[::21] = (toks[::21] + base) % 1000  # ~3 edits
                    else:
                        toks = (base * 17 + k * k * 31 + (base % 97) * k) % 1000
                    texts.append(" ".join(vocab[toks]))
                yield pd.DataFrame({"doc_id": ids, "text": texts})

        docs = (
            spark.range(n_docs)
            .repartition(par)
            .mapInPandas(gen, "doc_id long, text string")
        )
        path = _os.path.join(_tf.gettempdir(), f"tmx_bench_minhash_{n_docs}")
        docs.write.mode("overwrite").parquet(path)
        spark.read.parquet(path).agg(F.sum(F.length("text"))).collect()
        _MINHASH_STAGED[n_docs] = path
    df = spark.read.parquet(path)
    pairs = dedupfns.minhash_lsh_pairs(df, num_hashes=16, bands=8)
    t0 = _t.time()
    n_pairs = pairs.count()
    dt = _t.time() - t0
    assert n_pairs >= n_docs // 25, f"implausibly few pairs: {n_pairs}"
    return n_docs / dt


if __name__ == "__main__":
    main()
