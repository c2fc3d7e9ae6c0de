"""The benchmark workloads.  Each is a closed loop of operations over
seeded staged inputs; every operation materializes all output columns
(a ``noop`` write or the committed pyramid write).

A workload provides: ``stage`` (cached inputs), ``load`` (read the staged
tables), ``warm`` (untimed warm-up before the loop, on small slices),
``cycle`` (the timed operations; returns how many ran), ``check`` (untimed
output checks after the loop), and for the traced run ``trace_extras`` and
``layers``.  On the query path, whose operations are only ever
noop-written, the warm-up runs every operation on a seeded sample and keeps
the outputs; ``check`` compares them with independent computations.  The
pyramid checks what the cycle committed.
"""

from __future__ import annotations

import os
import shutil
import statistics
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from tilematrix_spark import incremental, raster
from tilematrix_spark.functions import dedup, similarity
from tilematrix_spark.grid import PyramidConfig
from tilematrix_spark.io import PyramidJob
from tilematrix_spark.operators import assign, geometry, knn, pip

from . import checks, data, eventlog
from .harness import cores, noop


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _per_cycle(folded: dict, prefix: str, cycles: int) -> dict:
    return eventlog.layer(
        {k: v / max(cycles, 1) for k, v in eventlog.totals(folded, prefix).items()}
    )


class Workload:
    name = ""
    rows = 0
    min_cycles = 1

    def warm(self, spark):
        """Warm-up before the timed loop; returns (checks attempted, failed)."""
        return 0, 0

    def check(self, spark):
        """Output checks after the timed loop; returns (attempted, failed)."""
        return 0, 0

    def after_cycle(self) -> None:
        """Untimed housekeeping between cycles."""

    def cleanup(self) -> None:
        """Remove what the run wrote outside the input cache."""

    def trace_extras(self, spark, tracer) -> dict:
        return {}


class SpatialJoin(Workload):
    """Vector join path: fused point-in-polygon join, tile histogram, kNN."""

    N_POINTS = 200_000
    N_QUERIES = 256
    N_POLYGONS, VERTICES = 100, 200
    PIP_ZOOM, HIST_ZOOM, KNN_ZOOM, K = 4, 8, 6, 8
    SAMPLE = 2000

    def __init__(self):
        self.tp = PyramidConfig.create("geodetic")
        self.rows = self.N_POINTS

    def stage(self, dirs, seed: int) -> None:
        self.seed = seed
        self.dir = data.stage_spatial(dirs.inputs, seed, self.N_POINTS, self.N_QUERIES,
                                      self.N_POLYGONS, self.VERTICES, 2 * cores())

    def load(self, spark) -> None:
        self.points = spark.read.parquet(str(self.dir / "points"))
        self.queries = spark.read.parquet(str(self.dir / "queries.parquet"))
        self.polygons = spark.read.parquet(str(self.dir / "polygons.parquet"))

    def cycle(self, spark, tracer) -> int:
        tp, points = self.tp, self.points
        with tracer.span("operators.pip.call"):
            pairs = pip.pip_join(points, self.polygons, tp, self.PIP_ZOOM, fused=True)
        with tracer.span("operators.pip.run"):
            noop(pairs.groupBy("poly_id").count())
        with tracer.span("operators.assign.run"):
            tiled = assign.with_tile(points, tp, self.HIST_ZOOM)
            salts = assign.salt_buckets_for_zoom(tp, self.HIST_ZOOM)
            noop(assign.salted_agg(tiled, ["row", "col"], {"n": "count:*"}, salt_buckets=salts))
        with tracer.span("operators.knn.call"):
            hits = knn.knn_join(self.queries, points, tp, self.KNN_ZOOM, self.K, point_id="point_id")
        with tracer.span("operators.knn.run"):
            noop(hits)
        return 3

    def warm(self, spark):
        """Run every operation of the cycle once (pip and kNN on a seeded
        sample, the histogram on all points) and keep the outputs for
        ``check``; this also warms up codegen and the Python workers."""
        tp = self.tp
        rng = np.random.default_rng([self.seed, 7])
        self.sample = np.sort(rng.choice(self.N_POINTS, self.SAMPLE, replace=False))
        self.qids = np.sort(rng.choice(self.N_QUERIES, 32, replace=False))
        self.got_pip = pip.pip_join(
            self.points.filter(F.col("point_id").isin(self.sample.tolist())),
            self.polygons, tp, self.PIP_ZOOM, fused=True,
        ).toPandas()
        tiled = assign.with_tile(self.points, tp, self.HIST_ZOOM)
        self.got_hist = assign.salted_agg(
            tiled, ["row", "col"], {"n": "count:*"},
            salt_buckets=assign.salt_buckets_for_zoom(tp, self.HIST_ZOOM),
        ).toPandas()
        self.got_knn = knn.knn_join(
            self.queries.filter(F.col("qid").isin(self.qids.tolist())), self.points, tp,
            self.KNN_ZOOM, self.K, point_id="point_id",
        ).toPandas().sort_values(["qid", "rank"])
        return 0, 0

    def check(self, spark):
        tp = self.tp
        pts = pq.read_table(self.dir / "points").to_pydict()
        pid = np.asarray(pts["point_id"])
        lon = np.asarray(pts["lon"])
        lat = np.asarray(pts["lat"])
        sample = np.isin(pid, self.sample)
        failed = 0

        # pip: every (point, polygon) pair of the point sample vs a numpy ray cast
        want = set()
        for poly_id, ring in checks.read_polygons(self.dir / "polygons.parquet"):
            hit = checks.ray_cast(ring, lon[sample], lat[sample])
            want.update((int(p), int(poly_id)) for p in pid[sample][hit])
        got = self.got_pip
        failed += set(zip(got["point_id"].astype(int), got["poly_id"].astype(int))) != want

        # histogram: total = N, sampled tiles = numpy truncating division
        hist = self.got_hist
        rows, cols = checks.tile_of(tp, self.HIST_ZOOM, lon, lat)
        width = tp.matrix_width(self.HIST_ZOOM)
        keys, counts = np.unique(rows * width + cols, return_counts=True)
        want_n = dict(zip(keys.tolist(), counts.tolist()))
        pick = hist.sample(n=min(64, len(hist)), random_state=self.seed)
        ok = int(hist["n"].sum()) == self.N_POINTS and all(
            want_n.get(int(r) * width + int(c)) == int(n)
            for r, c, n in zip(pick["row"], pick["col"], pick["n"])
        )
        failed += not ok

        # kNN: numpy brute force for the query sample
        q = pq.read_table(self.dir / "queries.parquet").to_pydict()
        qids = self.qids
        want_k = checks.knn_brute(
            np.asarray(q["lon"])[qids], np.asarray(q["lat"])[qids], lon, lat, pid, self.K,
            tp.right - tp.left,
        )
        ok = True
        for qid, (wp, wd) in zip(qids, want_k):
            g = self.got_knn[self.got_knn["qid"] == qid]
            ok &= np.array_equal(g["point_id"].to_numpy(), wp) and np.allclose(
                g["dist"].to_numpy(), wd, rtol=0, atol=1e-12
            )
        failed += not ok
        return 3, int(failed)

    def trace_extras(self, spark, tracer) -> dict:
        """Candidates = (point, polygon) pairs sharing a z4 tile, from the
        public cover operator joined with the points' tiles."""
        spark.sparkContext.setJobGroup("check", "check")
        cover = geometry.tiles_from_geom(self.polygons, self.tp, self.PIP_ZOOM).select("row", "col")
        pts = assign.with_tile(self.points, self.tp, self.PIP_ZOOM)
        cand = pts.join(cover, ["row", "col"]).count()
        pairs = pip.pip_join(self.points, self.polygons, self.tp, self.PIP_ZOOM, fused=True).count()
        return {"candidates": cand, "pairs": pairs}

    def layers(self, tracer, folded, loop, extra) -> dict:
        n = loop["cycles"]
        pip_l = _per_cycle(folded, "operators.pip", n)
        asg = _per_cycle(folded, "operators.assign", n)
        knn_l = _per_cycle(folded, "operators.knn", n)
        return {
            "operators.pip.call_s": tracer.per_cycle("operators.pip.call"),
            "operators.pip.run_s": tracer.per_cycle("operators.pip.run"),
            "operators.pip.pairs": extra["pairs"],
            "operators.pip.candidates": extra["candidates"],
            "operators.pip.hit_ratio": extra["pairs"] / extra["candidates"] if extra["candidates"] else 0.0,
            "operators.pip.python_in_bytes": pip_l["python_in_bytes"],
            "operators.pip.python_s": pip_l["python_s"],
            "operators.assign.run_s": tracer.per_cycle("operators.assign.run"),
            "operators.assign.rows": self.N_POINTS,
            "operators.assign.shuffle_bytes": asg["shuffle_write_bytes"],
            "operators.assign.codegen_share": asg["codegen_share"],
            "operators.knn.call_s": tracer.per_cycle("operators.knn.call"),
            "operators.knn.run_s": tracer.per_cycle("operators.knn.run"),
            "operators.knn.jobs": knn_l["jobs"],
            "operators.knn.shuffle_bytes": knn_l["shuffle_write_bytes"],
        }


class Pyramid(Workload):
    """Raster and write path.  One cycle builds the base pyramid of the
    corpus, committed by PyramidJob (compose at the base zoom, overviews
    down to z0), applies a 1% append batch to it as incremental deltas,
    each zoom committed by PyramidJob, then resumes both finished jobs,
    which must do nothing.  The bulk build and the update are timed
    together: a cycle of either alone is mostly Spark's per-job floor."""

    name = "pyramid"
    N_IMAGES = 2000
    N_UPDATES = 20
    BASE_ZOOM = 3

    def __init__(self):
        self.tp = PyramidConfig.create("geodetic")
        self.rows = self.N_IMAGES + self.N_UPDATES
        self.zooms = list(range(self.BASE_ZOOM, -1, -1))
        self.n = 0
        self.kept = None

    def stage(self, dirs, seed: int) -> None:
        self.seed = seed
        self.dir = data.stage_images(dirs.inputs, seed, self.N_IMAGES, self.N_UPDATES, 2 * cores())
        self.work = dirs.work / f"pyramid-{os.getpid()}"
        shutil.rmtree(self.work, ignore_errors=True)
        self.work.mkdir(parents=True)

    def load(self, spark) -> None:
        self.images = spark.read.parquet(str(self.dir / "images"))
        self.updates = spark.read.parquet(str(self.dir / "updates"))

    def _build(self, spark, corpus, out: Path) -> PyramidJob:
        holder: dict = {}

        def build(s, z):
            if z == self.BASE_ZOOM:
                return raster.compose_tiles(corpus, self.tp, z)
            return raster.overview_level(holder["job"].read_zoom(z + 1))

        job = PyramidJob(spark, self.tp, str(out), build)
        holder["job"] = job
        job.run(self.zooms)
        return job

    def _delta(self, z: int, child):
        """The update's delta at zoom ``z``; ``child`` is the committed
        delta one zoom up."""
        if z == self.BASE_ZOOM:
            return incremental.incremental_compose(self.images, self.updates, self.tp, z)
        current = incremental.merged_level(self.base.read_zoom(z + 1), child)
        return incremental.propagate_level(current, child.select("row", "col"))

    def _update(self, spark, out: Path, tracer) -> PyramidJob:
        holder: dict = {}

        def build(s, z):
            return self._delta(z, None if z == self.BASE_ZOOM else holder["job"].read_zoom(z + 1))

        job = PyramidJob(spark, self.tp, str(out), build)
        holder["job"] = job
        if tracer.enabled:
            commit = job.lineage.commit

            def timed(rec):
                with tracer.span("io.commit"):
                    commit(rec)

            job.lineage.commit = timed
        with tracer.span("io.update"):
            job.run(self.zooms)
        return job

    def warm(self, spark):
        """Build a pyramid of the update batch alone: a small slice that
        runs the compose, overview and commit paths once."""
        self._build(spark, self.updates, self.work / "warm")
        return 0, 0

    def cycle(self, spark, tracer) -> int:
        out = self.work / f"cycle{self.n}"
        self.n += 1
        with tracer.span("io.build"):
            self.base = self._build(spark, self.images, out / "base")
        job = self._update(spark, out / "delta", tracer)
        with tracer.span("io.resume"):
            rerun = self.base.run(self.zooms) + job.run(self.zooms)
        if rerun:
            raise RuntimeError(f"resume over a finished pyramid re-ran zooms {rerun}")
        self.last, self.units = out, job.metrics()
        return 3

    def after_cycle(self) -> None:
        """Keep the last cycle's output for the checks; drop the one before."""
        files = [p for p in self.last.rglob("*") if p.is_file() and not p.name.startswith(".")]
        self.stored = (len(files), sum(p.stat().st_size for p in files))
        if self.kept is not None:
            shutil.rmtree(self.kept, ignore_errors=True)
        self.kept = self.last

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)

    def check(self, spark):
        rng = np.random.default_rng([self.seed, 8])
        failed = attempted = 0
        levels = {z: checks.read_level(self.kept / "base" / f"zoom={z}") for z in self.zooms}

        # sampled parents = numpy 2x2 box filter of their committed children
        for z in self.zooms[1:]:
            attempted += 1
            keys = sorted(levels[z])
            pick = [keys[i] for i in rng.choice(len(keys), min(16, len(keys)), replace=False)]
            failed += any(
                levels[z][k][2] != checks.box_parent(levels[z + 1], *k) for k in pick
            )

        # per-zoom tile counts = the footprints' tile cover
        fp = pq.read_table(self.dir / "images", columns=["fp_left", "fp_bottom", "fp_right", "fp_top"])
        fps = np.column_stack([fp.column(i).to_numpy() for i in range(4)])
        sure = checks.footprint_tiles(self.tp, self.BASE_ZOOM, fps, 1e-9)
        maybe = checks.footprint_tiles(self.tp, self.BASE_ZOOM, fps, -1e-9)
        attempted += 1
        failed += not all(
            len(checks.parents(sure, self.BASE_ZOOM - z)) <= len(levels[z])
            <= len(checks.parents(maybe, self.BASE_ZOOM - z))
            for z in self.zooms
        )

        # the base with the update's deltas merged in = byte-equal to a full
        # rebuild of old + updates (a bulk compose of the base zoom, numpy box
        # filters above it): a delta tile that differs, and a dirty tile
        # missing from the delta (its stale base tile stays), both fail
        corpus = self.images.unionByName(self.updates)
        ref = raster.compose_tiles(corpus, self.tp, self.BASE_ZOOM).select(
            "row", "col", "tile_w", "tile_h", "bytes").toPandas()
        want = {(int(r), int(c)): (int(w), int(h), bytes(b))
                for r, c, w, h, b in ref.itertuples(index=False)}
        for z in self.zooms:
            if z < self.BASE_ZOOM:
                w, h = next(iter(want.values()))[:2]
                want = {k: (w, h, checks.box_parent(want, *k)) for k in checks.parents(set(want), 1)}
            attempted += 1
            got = checks.read_level(self.kept / "delta" / f"zoom={z}")
            failed += not got or {**levels[z], **got} != want
        self.base_tiles = len(levels[self.BASE_ZOOM])
        self.dirty_tiles = len(checks.read_level(self.kept / "delta" / f"zoom={self.BASE_ZOOM}"))
        return attempted, int(failed)

    def trace_extras(self, spark, tracer) -> dict:
        """Compute-only probes, each a noop write under a job group that
        starts with ``check``, so the spark.* totals of the timed cycle
        leave them out: the bulk compose and one overview step of the
        corpus, and every unit of the last update (the DataFrames its
        commits wrote, rebuilt over the kept deltas)."""
        with tracer.span("check.raster.compose"):
            noop(raster.compose_tiles(self.images, self.tp, self.BASE_ZOOM))
        with tracer.span("check.raster.overview"):
            noop(raster.overview_level(self.base.read_zoom(self.BASE_ZOOM)))
        probe = {}
        for z in self.zooms:
            child = None if z == self.BASE_ZOOM else spark.read.parquet(
                str(self.kept / "delta" / f"zoom={z + 1}"))
            layer = "check.incremental." + ("compose" if child is None else "propagate")
            with tracer.span(layer):
                noop(self._delta(z, child))
            probe[f"zoom={z}"] = tracer.durations(layer)[-1]
        t = pq.read_table(self.kept / "base" / f"zoom={self.BASE_ZOOM}", columns=["n_images"])
        return {"hot_tiles": int((t.column("n_images").to_numpy() > 64).sum()), "probe": probe}

    def layers(self, tracer, folded, loop, extra) -> dict:
        compose = eventlog.layer(eventlog.totals(folded, "check.raster.compose"))
        overview = eventlog.layer(eventlog.totals(folded, "check.raster.overview"))
        inc = eventlog.layer(eventlog.totals(folded, "check.incremental"))
        # the update's units in the last traced cycle; the write share is the
        # unit's lineage wall time less the noop probe of the same DataFrame
        unit_s = {k: u["wall_s"] for k, u in self.units.items()}
        write_s = sum(max(t - extra["probe"][k], 0.0) for k, t in unit_s.items())
        files, stored = self.stored
        return {
            "raster.compose.run_s": _median(tracer.durations("check.raster.compose")),
            "raster.compose.shuffle_bytes": compose["shuffle_write_bytes"],
            "raster.compose.python_in_bytes": compose["python_in_bytes"],
            "raster.compose.task_skew": eventlog.task_skew(folded, "check.raster.compose"),
            "raster.compose.hot_tiles": extra["hot_tiles"],
            "raster.overview.run_s": _median(tracer.durations("check.raster.overview")),
            "raster.overview.shuffle_bytes": overview["shuffle_write_bytes"],
            "incremental.compose.run_s": sum(tracer.durations("check.incremental.compose")),
            "incremental.propagate.run_s": sum(tracer.durations("check.incremental.propagate")),
            "incremental.dirty_fraction": self.dirty_tiles / self.base_tiles if self.base_tiles else 0.0,
            "incremental.shuffle_bytes": inc["shuffle_write_bytes"],
            "io.unit_s.median": _median(unit_s.values()),
            "io.unit_s.max": max(unit_s.values(), default=0.0),
            "io.write_s": write_s,
            "io.commit_s": tracer.per_cycle("io.commit"),
            "io.resume_s": tracer.per_cycle("io.resume"),
            "io.files": files,
            "io.bytes": stored,
            "io.bytes_per_row": stored / self.rows,
        }


class TextDedup(Workload):
    """functions.* path: SimHash sketches and MinHash-LSH verified pairs over
    near-copy documents, residual IVF-PQ top-k over perturbed vectors."""

    N_DOCS, DOC_COPIES = 500, 3
    N_VECS, VEC_COPIES = 500, 7
    N_QUERIES = 256
    ORACLE_QUERIES = 32  # the oracle SQL probes vec_id < 32

    def __init__(self):
        self.rows = self.N_DOCS * (1 + self.DOC_COPIES)

    def stage(self, dirs, seed: int) -> None:
        self.seed = seed
        self.dir = data.stage_text(dirs.inputs, seed, self.N_DOCS, self.DOC_COPIES, self.N_VECS,
                                   self.VEC_COPIES, 2 * cores())

    def load(self, spark) -> None:
        self.docs = spark.read.parquet(str(self.dir / "documents"))
        self.corpus = spark.read.parquet(str(self.dir / "embeddings"))
        self.queries = self.corpus.filter(F.col("vec_id") < self.N_QUERIES).select(
            F.col("vec_id").alias("qid"), "embedding"
        )

    def _ann(self, queries):
        return similarity.ivf_pq_residual_topk(queries, self.corpus, n_centroids=16, nprobe=4, k=3)

    def cycle(self, spark, tracer) -> int:
        with tracer.span("functions.dedup.simhash.run"):
            noop(dedup.simhash_buckets(self.docs))
        with tracer.span("functions.dedup.minhash.run"):
            noop(dedup.minhash_verified_pairs(self.docs, num_hashes=16, bands=8, threshold=0.5))
        with tracer.span("functions.similarity.ivf_pq.run"):
            noop(self._ann(self.queries))
        return 3

    def warm(self, spark):
        """Run every operation of the cycle once and keep the outputs for
        ``check``; this also warms them up."""
        self.got = {
            "simhash": dedup.simhash_buckets(self.docs).toPandas(),
            "minhash_lsh_verified": dedup.minhash_verified_pairs(
                self.docs, num_hashes=16, bands=8, threshold=0.5).toPandas(),
            "ivf_pq_residual_topk": self._ann(self.queries).filter(
                F.col("qid") < self.ORACLE_QUERIES).select(
                "qid", "vec_id", F.col("rank").cast("int")).toPandas(),
        }
        return 0, 0

    def check(self, spark):
        """The outputs against the repository's DuckDB oracle SQL over the
        staged tables."""
        import __spark_entry__ as entry

        sql = entry.oracle_sql()
        views = {"documents": self.dir / "documents", "embeddings": self.dir / "embeddings"}
        failed = sum(
            checks.normalize(got.itertuples(index=False))
            != checks.normalize(checks.duckdb_rows(views, sql[name]))
            for name, got in self.got.items()
        )
        return len(self.got), int(failed)

    def trace_extras(self, spark, tracer) -> dict:
        spark.sparkContext.setJobGroup("check", "check")
        cands = dedup.minhash_lsh_pairs(self.docs, num_hashes=16, bands=8).count()
        pairs = dedup.minhash_verified_pairs(self.docs, num_hashes=16, bands=8, threshold=0.5).count()
        return {"candidates": cands, "pairs": pairs}

    def layers(self, tracer, folded, loop, extra) -> dict:
        n = loop["cycles"]
        sim = _per_cycle(folded, "functions.dedup.simhash", n)
        ann = _per_cycle(folded, "functions.similarity", n)
        cands, pairs = extra["candidates"], extra["pairs"]
        return {
            "functions.dedup.simhash.run_s": tracer.per_cycle("functions.dedup.simhash.run"),
            "functions.dedup.simhash.codegen_share": sim["codegen_share"],
            "functions.dedup.minhash.run_s": tracer.per_cycle("functions.dedup.minhash.run"),
            "functions.dedup.minhash.candidates": cands,
            "functions.dedup.minhash.pairs": pairs,
            "functions.dedup.minhash.hit_ratio": pairs / cands if cands else 0.0,
            "functions.similarity.ivf_pq.run_s": tracer.per_cycle("functions.similarity.ivf_pq.run"),
            "functions.similarity.ivf_pq.python_in_bytes": ann["python_in_bytes"],
            "functions.similarity.ivf_pq.shuffle_bytes": ann["shuffle_write_bytes"],
        }


class Queries(Workload):
    """The query path, which commits nothing: the vector join operators and
    the functions.* family run back to back in one cycle.  They share one
    workload because each Spark run pays ~40 s of fixed start-up, warm-up
    and check cost, and the run budget allows two workloads, not four."""

    name = "queries"

    def __init__(self):
        self.parts = (SpatialJoin(), TextDedup())
        self.rows = sum(p.rows for p in self.parts)

    def stage(self, dirs, seed: int) -> None:
        for p in self.parts:
            p.stage(dirs, seed)

    def load(self, spark) -> None:
        for p in self.parts:
            p.load(spark)

    def warm(self, spark):
        for p in self.parts:
            p.warm(spark)
        return 0, 0

    def check(self, spark):
        # the numpy and DuckDB checks release the GIL: run the parts side by side
        with ThreadPoolExecutor(len(self.parts)) as pool:
            results = list(pool.map(lambda p: p.check(spark), self.parts))
        return sum(a for a, _ in results), sum(f for _, f in results)

    def cycle(self, spark, tracer) -> int:
        return sum(p.cycle(spark, tracer) for p in self.parts)

    def trace_extras(self, spark, tracer) -> dict:
        return {i: p.trace_extras(spark, tracer) for i, p in enumerate(self.parts)}

    def layers(self, tracer, folded, loop, extra) -> dict:
        out: dict = {}
        for i, p in enumerate(self.parts):
            out.update(p.layers(tracer, folded, loop, extra[i]))
        return out


WORKLOADS = {w.name: w for w in (Queries, Pyramid)}
