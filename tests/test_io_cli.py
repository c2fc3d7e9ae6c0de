"""Checkpoint/lineage resume + CLI parity tests."""

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from tilematrix_spark.io import PyramidJob, TableIO
from tilematrix_spark.operators import assign

REPO = Path(__file__).resolve().parents[1]


def test_pyramid_job_resume(spark, geodetic, tmp_path):
    calls = []

    def build(s, z):
        calls.append(z)
        df = s.createDataFrame([(i, float(i % 90), float(i % 45)) for i in range(1, 50)],
                               "id int, lon double, lat double")
        return assign.tile_histogram(df, geodetic, z, salt_buckets=2)

    out = str(tmp_path / "pyr")
    job = PyramidJob(spark, geodetic, out, build)
    executed = job.run([2, 3, 4])
    assert executed == [2, 3, 4]
    # metrics recorded per zoom
    m = job.metrics()
    assert set(m) == {"zoom=2", "zoom=3", "zoom=4"}
    for rec in m.values():
        assert rec["rows"] > 0 and rec["wall_s"] >= 0
    # resume: nothing re-runs, then only the new zoom runs
    calls.clear()
    job2 = PyramidJob(spark, geodetic, out, build)
    assert job2.run([2, 3, 4]) == []
    assert calls == []
    assert job2.run([2, 3, 4, 5]) == [5]
    assert calls == [5]
    # output readable per zoom
    assert job2.read_zoom(3).agg(F.sum("n")).collect()[0][0] == 49


def test_table_io_roundtrip(spark, tmp_path):
    io = TableIO(spark)
    df = spark.range(10).withColumn("p", F.col("id") % 2)
    io.write(df, str(tmp_path / "t"), partition_by=["p"])
    assert io.read(str(tmp_path / "t")).count() == 10


def test_write_counted_matches_readback(spark, tmp_path):
    """Observed-during-write row count equals a read-back count (one scan,
    not two), including the empty-output edge."""
    io = TableIO(spark)
    df = spark.range(137).withColumn("p", F.col("id") % 3)
    n = io.write_counted(df, str(tmp_path / "c"), partition_by=["p"])
    assert n == 137 == io.read(str(tmp_path / "c")).count()
    assert io.write_counted(spark.range(5).filter("id < 0"), str(tmp_path / "e")) == 0


def _tmx(*args):
    return subprocess.run(
        [sys.executable, "-m", "tilematrix_spark.cli", *args],
        capture_output=True, text=True, cwd=REPO,
    )


def test_cli_bounds():
    r = _tmx("bounds", "5", "3", "3")
    assert r.returncode == 0
    assert r.stdout.split() == ["-163.125", "67.5", "-157.5", "73.125"]


def test_cli_bounds_pixelbuffer():
    r = _tmx("-p", "1", "bounds", "5", "3", "3")
    vals = [float(v) for v in r.stdout.split()]
    assert vals == [-163.14697265625, 67.47802734375, -157.47802734375, 73.14697265625]


def test_cli_bbox_wkt():
    r = _tmx("-f", "WKT", "bbox", "5", "3", "3")
    assert r.stdout.startswith("POLYGON ((")
    assert "-163.125" in r.stdout


def _tmx_main(capsys, *args):
    """Run the CLI in this process against the session fixture."""
    from tilematrix_spark import cli

    assert cli.main(list(args)) == 0
    return capsys.readouterr().out


def test_cli_tile_and_tiles(spark, capsys):
    assert _tmx_main(capsys, "tile", "5", "0.5", "0.5").strip() == "5 15 32"
    assert _tmx_main(capsys, "tiles", "5", "-163.125", "67.5", "-157.5", "73.125").strip() == "5 3 3"
    # antimeridian
    out = _tmx_main(capsys, "tiles", "5", "-183.125", "67.5", "-177.5", "73.125")
    assert set(out.strip().splitlines()) == {"5 3 0", "5 3 63"}
    # the CLI reused the active session and left its SQL conf alone
    assert spark.conf.get("spark.sql.shuffle.partitions") == "4"


def test_cli_geojson(spark, capsys):
    fc = json.loads(_tmx_main(capsys, "-f", "GeoJSON", "tile", "5", "0.5", "0.5"))
    assert fc["type"] == "FeatureCollection"
    assert fc["features"][0]["properties"] == {"zoom": 5, "row": 15, "col": 32}


def test_cli_snap_bounds(spark, capsys):
    vals = [float(v) for v in _tmx_main(capsys, "snap-bounds", "8", "0", "1", "2", "3").split()]
    assert vals[0] <= 0 and vals[1] <= 1 and vals[2] >= 2 and vals[3] >= 3


def test_cli_flag_matrix():
    # reference test_cli.py:16-95 exercises grid/metatiling/tile_size flags;
    # spot-check each against the config mirror
    from tilematrix_spark.grid import PyramidConfig

    cases = [
        (["-g", "mercator", "bounds", "3", "2", "2"], PyramidConfig.create("mercator"), (3, 2, 2), 0),
        (["-m", "2", "bounds", "5", "1", "1"], PyramidConfig.create("geodetic", metatiling=2), (5, 1, 1), 0),
        (["-s", "512", "-p", "2", "bounds", "4", "1", "1"], PyramidConfig.create("geodetic", tile_size=512), (4, 1, 1), 2),
    ]
    for args, tp, (z, r_, c), pb in cases:
        r = _tmx(*args)
        vals = [float(v) for v in r.stdout.split()]
        h, w = tp.tile_y_size(z), tp.tile_x_size(z)
        top = tp.top - r_ * h
        left = tp.left + c * w
        off = tp.pixel_x_size(z) * pb
        expect = [left - off, max(top - h, tp.bottom) - off, min(left + w, tp.right) + off, min(top + off, tp.top)]
        assert vals == expect, args


def test_cli_invalid_metatiling_clean_error():
    r = _tmx("-m", "5", "bounds", "5", "3", "3")
    assert r.returncode == 2
    assert r.stderr.startswith("error:")
    assert "Traceback" not in r.stderr


def test_pyramid_job_banded_mid_zoom_resume(spark, geodetic, tmp_path):
    """bands>1: each zoom is N independently committed units; deleting one
    band's marker re-runs ONLY that band, and the banded output unions to
    the exact unbanded result (hash bands partition the rows)."""
    import os

    def build(s, z):
        df = s.createDataFrame([(i, float(i % 90), float(i % 45)) for i in range(1, 80)],
                               "id int, lon double, lat double")
        return assign.tile_histogram(df, geodetic, z, salt_buckets=2)

    out = str(tmp_path / "pyr_banded")
    job = PyramidJob(spark, geodetic, out, build, bands=3, band_col="row")
    executed = job.run([3])
    assert executed == [f"zoom=3{os.sep}band={i}" for i in range(3)]
    assert set(job.metrics()) == {f"zoom=3{os.sep}band={i}" for i in range(3)}
    total = job.read_zoom(3).agg(F.sum("n")).collect()[0][0]
    assert total == 79
    # simulate a mid-zoom crash: band=1 uncommitted
    os.remove(os.path.join(out, "_lineage", "zoom=3__band=1.json"))
    job2 = PyramidJob(spark, geodetic, out, build, bands=3, band_col="row")
    assert job2.run([3]) == [f"zoom=3{os.sep}band=1"]
    assert job2.read_zoom(3).agg(F.sum("n")).collect()[0][0] == 79


def test_banded_resume_reads_units_without_a_job(spark, geodetic, tmp_path):
    """Each committed unit's marker holds its schema, so a resumed job reads
    its units back without parquet's schema-inference job; a marker written
    without a schema still reads (by inference)."""
    def build(s, z):
        df = s.createDataFrame([(i, float(i % 90), float(i % 45)) for i in range(1, 80)],
                               "id int, lon double, lat double")
        return assign.tile_histogram(df, geodetic, z, salt_buckets=2)

    out = str(tmp_path / "pyr_schema")
    PyramidJob(spark, geodetic, out, build, bands=3, band_col="row").run([3, 2])
    want = build(spark, 3).schema.simpleString()

    sc = spark.sparkContext
    sc.setJobGroup("read_committed_units", "read_committed_units")
    try:
        job = PyramidJob(spark, geodetic, out, build, bands=3, band_col="row")
        assert job.run([3, 2]) == []
        got = [job.read_zoom(z).schema.simpleString() for z in (3, 2)]
        launched = sc.statusTracker().getJobIdsForGroup("read_committed_units")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert got == [want, want]
    assert launched == []

    lineage = os.path.join(out, "_lineage")
    for name in os.listdir(lineage):
        with open(os.path.join(lineage, name)) as f:
            rec = json.load(f)
        assert rec["schema"]
        del rec["schema"]
        with open(os.path.join(lineage, name), "w") as f:
            json.dump(rec, f)
    old = PyramidJob(spark, geodetic, out, build, bands=3, band_col="row").read_zoom(3)
    assert old.agg(F.sum("n")).collect()[0][0] == 79


def test_stage_job_resume_mid_pipeline(spark, tmp_path):
    """StageJob resumes at the first uncommitted stage: a crash in stage 2
    leaves stage 1 committed; the rerun executes only stages 2 and 3,
    reading stage 1's output back from storage."""
    import pyspark.sql.functions as F

    from tilematrix_spark.io import StageJob

    src = spark.createDataFrame([(i, i % 3) for i in range(30)], "id long, grp long")
    out = str(tmp_path / "stages")

    def s1(s, read_stage):
        return src.filter(F.col("id") % 2 == 0)

    def boom(s, read_stage):
        raise RuntimeError("simulated crash")

    def s2(s, read_stage):
        return read_stage("evens").groupBy("grp").agg(F.count("*").alias("n"))

    def s3(s, read_stage):
        return read_stage("counts").agg(F.sum("n").alias("total"))

    import pytest as _pytest

    with _pytest.raises(RuntimeError):
        StageJob(spark, out, [("evens", s1), ("counts", boom)]).run()
    job = StageJob(spark, out, [("evens", s1), ("counts", s2), ("totals", s3)])
    executed = job.run()
    assert executed == ["counts", "totals"]  # stage 1 NOT re-run
    assert job.read_stage("totals").collect()[0]["total"] == 15
    m = job.metrics()
    assert set(m) == {"stage=evens", "stage=counts", "stage=totals"}
    assert all(rec["rows"] > 0 for rec in m.values())


def test_stage_job_partitioned_stage(spark, tmp_path):
    """A (name, build, partition_by) stage writes hive-partitioned output so
    downstream equi-filtered reads prune at the directory layout level (the
    ANN index job partitions its index stage by cell bucket)."""
    import pyspark.sql.functions as F

    from tilematrix_spark.io import StageJob

    src = spark.createDataFrame([(i, i % 4) for i in range(40)], "id long, cell long")
    out = str(tmp_path / "pstages")
    job = StageJob(
        spark, out, [("index", lambda s, rs: src, ["cell"]),
                     ("probe", lambda s, rs: rs("index").filter(F.col("cell") == 2))]
    )
    assert job.run() == ["index", "probe"]
    # the partition layout is on disk → partition pruning applies on read
    assert sorted(
        d for d in os.listdir(os.path.join(out, "stage=index")) if d.startswith("cell=")
    ) == ["cell=0", "cell=1", "cell=2", "cell=3"]
    assert job.read_stage("probe").count() == 10
    plan = job.read_stage("index").filter(F.col("cell") == 2)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "cell" in plan  # partition column survives the roundtrip


def test_ann_update_job_incremental_append(spark, tmp_path):
    """Incremental ANN index maintenance: update batches are encoded against
    the FROZEN quantizers and committed as per-batch delta partitions; the
    probe-visible index (base ∪ committed deltas) is row-identical to a full
    re-encode of the union corpus with the same quantizers; a replayed batch
    is skipped (exactly-once) and an uncommitted orphan directory from a
    crash between write and commit stays invisible."""
    import argparse
    import os as _os
    import sys as _sys

    _sys.path.insert(0, str(REPO / "jobs"))
    import ann_index_job

    from tilematrix_spark import annstore
    from tilematrix_spark.functions import similarity as sim
    from tilematrix_spark.io import TableIO

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.filter("vec_id < 300")
    upd = emb.filter("vec_id >= 300 AND vec_id < 400")
    basep = str(tmp_path / "base_vectors")
    base.write.parquet(basep)
    out = str(tmp_path / "annidx")
    args = argparse.Namespace(
        input=basep, output=out, id_col="vec_id", vec_col="embedding",
        m=8, k=16, n_centroids=4, nprobe=2, topk=3, n_queries=8,
    )
    assert ann_index_job.run(spark, args)["executed"] == [
        "centroids", "codebooks", "index", "topk",
    ]

    m1 = annstore.append_batch(spark, out, upd, batch_id=1)
    assert not m1["skipped"] and m1["rows"] == 100
    # delta keeps the cell-partitioned layout (probe reads stay pruned)
    delta_dir = _os.path.join(out, "delta=batch_1")
    assert any(d.startswith("_cell=") for d in _os.listdir(delta_dir))
    # replay of a committed batch is a no-op
    assert annstore.append_batch(spark, out, upd, batch_id=1)["skipped"]
    # an orphan delta dir with NO lineage marker is invisible to probes
    upd.limit(7).select("vec_id").withColumn("_cell", F.lit(0)).withColumn(
        "codes", F.array(F.lit(0))
    ).write.parquet(_os.path.join(out, "delta=batch_99"))
    merged = annstore.read_index(spark, out)
    assert merged.count() == 400

    # merged index == full re-encode of the union corpus, same quantizers
    io = TableIO(spark)
    cq = sim.int_centroids_from_rows(io.read(_os.path.join(out, "stage=centroids")))
    books = sim.codebooks_from_rows(io.read(_os.path.join(out, "stage=codebooks")))
    full = sim.with_ivf_pq_residual(
        base.unionByName(upd).select("vec_id", F.col("embedding").alias("_cv")),
        books, cq, "_cv",
    )
    key = lambda r: (r["vec_id"], r["_cell"], tuple(r["codes"]))  # noqa: E731
    expect = sorted(map(key, full.collect()))
    assert sorted(map(key, merged.collect())) == expect

    # compaction folds committed deltas into one generation; content and
    # probe-visibility are unchanged, later deltas stack on top of it
    c1 = annstore.compact(spark, out)
    assert not c1["skipped"] and c1["absorbed"] == 1 and c1["rows"] == 400
    assert sorted(map(key, annstore.read_index(spark, out).collect())) == expect
    assert annstore.compact(spark, out)["skipped"]  # nothing new to absorb
    upd2 = emb.filter("vec_id >= 400")
    annstore.append_batch(spark, out, upd2, batch_id=2)
    assert annstore.read_index(spark, out).count() == 500
    c2 = annstore.compact(spark, out)
    assert c2["unit"] == "compact=2" and c2["rows"] == 500
    assert annstore.read_index(spark, out).count() == 500


def test_ann_compact_concurrent_append_exactly_once(spark, tmp_path, monkeypatch):
    """A delta committed by a CONCURRENT appender between compact()'s
    lineage snapshot and its marker must be neither folded into the new
    generation nor recorded as absorbed — it keeps serving exactly once
    afterwards (ADVICE r4: compact used to re-list lineage mid-write via
    read_index, double-serving such a delta)."""
    import argparse
    import os as _os
    import sys as _sys

    _sys.path.insert(0, str(REPO / "jobs"))
    import ann_index_job

    from tilematrix_spark import annstore
    from tilematrix_spark.io import TableIO

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    basep = str(tmp_path / "base_vectors")
    emb.filter("vec_id < 300").write.parquet(basep)
    out = str(tmp_path / "annidx")
    args = argparse.Namespace(
        input=basep, output=out, id_col="vec_id", vec_col="embedding",
        m=8, k=16, n_centroids=4, nprobe=2, topk=3, n_queries=8,
    )
    ann_index_job.run(spark, args)
    annstore.append_batch(
        spark, out, emb.filter("vec_id >= 300 AND vec_id < 350"), batch_id=1
    )

    upd2 = emb.filter("vec_id >= 350 AND vec_id < 400")
    orig = TableIO.write_counted
    state = {"fired": False}

    def racing_write(self, df, path, mode="overwrite", partition_by=None):
        # first generation write -> inject a concurrent committed append
        if not state["fired"] and "compact=" in _os.path.basename(path):
            state["fired"] = True
            annstore.append_batch(spark, out, upd2, batch_id=2)
        return orig(self, df, path, mode=mode, partition_by=partition_by)

    monkeypatch.setattr(TableIO, "write_counted", racing_write)
    c = annstore.compact(spark, out)
    monkeypatch.setattr(TableIO, "write_counted", orig)
    assert state["fired"] and not c["skipped"]
    # the racing delta is NOT in the generation and NOT marked absorbed...
    assert c["rows"] == 350 and c["absorbed"] == 1
    # ...so probes see every row exactly once (dup ids would mean twice)
    merged = annstore.read_index(spark, out)
    assert merged.count() == 400
    assert merged.select("vec_id").distinct().count() == 400
    # the next compaction folds the racing delta in, still exactly once
    c2 = annstore.compact(spark, out)
    assert c2["rows"] == 400 and c2["absorbed"] == 1
    assert annstore.read_index(spark, out).count() == 400


def test_ann_residual_index_build_and_append(spark, tmp_path):
    """IVFADC index lifecycle: the build job commits the integer quantizer
    (array<long> centroids), the probe stage runs against residual codes,
    and append_batch encodes residuals against the frozen quantizer — the
    merged index is row-identical to a full residual re-encode of the union
    corpus (a raw-code append would corrupt every ADC distance)."""
    import argparse
    import os as _os
    import sys as _sys

    _sys.path.insert(0, str(REPO / "jobs"))
    import ann_index_job

    from tilematrix_spark import annstore
    from tilematrix_spark.functions import similarity as sim
    from tilematrix_spark.io import TableIO

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.filter("vec_id < 300")
    upd = emb.filter("vec_id >= 300 AND vec_id < 400")
    basep = str(tmp_path / "base_vectors")
    base.write.parquet(basep)
    out = str(tmp_path / "annidx_res")
    args = argparse.Namespace(
        input=basep, output=out, id_col="vec_id", vec_col="embedding",
        m=8, k=16, n_centroids=4, nprobe=2, topk=3, n_queries=8,
    )
    r = ann_index_job.run(spark, args)
    assert r["executed"] == ["centroids", "codebooks", "index", "topk"]
    io = TableIO(spark)
    cents = io.read(_os.path.join(out, "stage=centroids"))
    assert cents.schema["centroid"].dataType.simpleString() == "array<bigint>"
    # probe stage produced k rows per query against residual codes
    topk = io.read(_os.path.join(out, "stage=topk"))
    assert topk.count() == 8 * 3

    m1 = annstore.append_batch(spark, out, upd, batch_id=1)
    assert not m1["skipped"] and m1["rows"] == 100

    cq = sim.int_centroids_from_rows(cents)
    books = sim.codebooks_from_rows(io.read(_os.path.join(out, "stage=codebooks")))
    full = sim.with_ivf_pq_residual(
        base.unionByName(upd).select("vec_id", F.col("embedding").alias("_cv")),
        books, cq, "_cv",
    )
    key = lambda r: (r["vec_id"], r["_cell"], tuple(r["codes"]))  # noqa: E731
    assert sorted(map(key, annstore.read_index(spark, out).collect())) == sorted(
        map(key, full.collect())
    )


def test_ann_append_rejects_float_centroid_index(spark, tmp_path):
    """An index whose committed centroids are floats (the retired raw-code
    layout) must fail loudly on append: truncating unit-norm floats to the
    integer quantizer would encode every row against zero centroids."""
    import os as _os

    from tilematrix_spark import annstore

    out = str(tmp_path / "annidx_float")
    spark.createDataFrame(
        [(0, [0.6, 0.8]), (1, [0.8, 0.6])], "cell int, centroid array<double>"
    ).write.parquet(_os.path.join(out, "stage=centroids"))
    upd = spark.createDataFrame([(0, [0.6, 0.8])], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="array<long>"):
        annstore.append_batch(spark, out, upd, batch_id=1)


def test_ann_gc_and_drift_monitor(spark, tmp_path):
    """gc(): absorbed deltas and superseded generations are physically
    deleted once the newest compaction outlives the grace period, and
    read_index is row-identical before/after (lineage proves the victims
    unreadable); within the grace window nothing is touched; orphan dirs
    are never touched.  Drift: each append records its mean
    assigned-centroid similarity against the first batch's baseline — the
    documented rebuild trigger."""
    import argparse
    import os as _os
    import sys as _sys

    _sys.path.insert(0, str(REPO / "jobs"))
    import ann_index_job

    from tilematrix_spark import annstore

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    basep = str(tmp_path / "base_vectors")
    emb.filter("vec_id < 300").write.parquet(basep)
    out = str(tmp_path / "annidx")
    args = argparse.Namespace(
        input=basep, output=out, id_col="vec_id", vec_col="embedding",
        m=8, k=16, n_centroids=4, nprobe=2, topk=3, n_queries=8,
    )
    ann_index_job.run(spark, args)

    m1 = annstore.append_batch(
        spark, out, emb.filter("vec_id >= 300 AND vec_id < 350"), batch_id=1
    )
    # drift recorded: first batch IS the baseline (ratio 1.0), visible in
    # both the return value and the committed lineage config
    assert m1["drift"]["ratio"] == 1.0 and 0.0 < m1["drift"]["mean_sim"] <= 1.0
    rec1 = annstore.Lineage(out).committed()["delta=batch_1"]
    assert rec1["config"]["drift"] == m1["drift"]
    m2 = annstore.append_batch(
        spark, out, emb.filter("vec_id >= 350 AND vec_id < 400"), batch_id=2
    )
    # second batch compares against the FIRST batch's baseline
    assert m2["drift"]["baseline_sim"] == m1["drift"]["mean_sim"]

    # no compaction yet -> nothing deletable
    assert annstore.gc(spark, out, grace_s=0.0)["deleted"] == []
    annstore.compact(spark, out)
    key = lambda r: (r["vec_id"], r["_cell"], tuple(r["codes"]))  # noqa: E731
    before = sorted(map(key, annstore.read_index(spark, out).collect()))

    # inside the grace window: nothing deleted
    g = annstore.gc(spark, out, grace_s=3600.0)
    assert g["deleted"] == [] and "grace" in g["skipped"]
    # orphan dir (no marker): must survive gc
    _os.makedirs(_os.path.join(out, "delta=orphan_7"), exist_ok=True)

    g = annstore.gc(spark, out, grace_s=0.0)
    assert g["deleted"] == ["delta=batch_1", "delta=batch_2"]
    assert not _os.path.exists(_os.path.join(out, "delta=batch_1"))
    assert _os.path.exists(_os.path.join(out, "delta=orphan_7"))
    assert sorted(map(key, annstore.read_index(spark, out).collect())) == before
    # the gc'd batch's MARKER survives: a replay stays a no-op — its rows
    # live in the compaction, a re-append would duplicate them
    assert annstore.append_batch(
        spark, out, emb.filter("vec_id >= 300 AND vec_id < 350"), batch_id=1
    )["skipped"]
    # a genuinely new batch + second compaction: gen 1 becomes garbage
    annstore.append_batch(
        spark, out, emb.filter("vec_id >= 400 AND vec_id < 450"), batch_id=3
    )
    after = sorted(map(key, annstore.read_index(spark, out).collect()))
    assert len(after) == len(before) + 50
    annstore.compact(spark, out)
    g2 = annstore.gc(spark, out, grace_s=0.0)
    assert set(g2["deleted"]) == {"compact=1", "delta=batch_3"}
    assert g2["kept"] == "compact=2"
    assert sorted(map(key, annstore.read_index(spark, out).collect())) == after


def test_overview_pyramid_job_resumes_mid_pyramid(spark, geodetic, tmp_path):
    """Raster overview chain on PyramidJob: zoom z reads z+1's committed
    output, so a restart resumes at the first unbuilt level and never
    recomputes finished ones."""
    from tilematrix_spark import images, raster

    out = str(tmp_path / "ovr")
    built = []

    def make_build(job_holder):
        def build(s, zoom):
            built.append(zoom)
            if zoom == 4:
                return raster.compose_tiles(images.images_df(s, 30, partitions=2), geodetic, 4)
            return raster.overview_level(job_holder["j"].read_zoom(zoom + 1))
        return build

    h1 = {}
    job = PyramidJob(spark, geodetic, out, make_build(h1))
    h1["j"] = job
    assert job.run([4, 3]) == [4, 3]

    built.clear()
    h2 = {}
    job2 = PyramidJob(spark, geodetic, out, make_build(h2))
    h2["j"] = job2
    assert job2.run([4, 3, 2]) == [2]
    assert built == [2]  # committed levels not recomputed
    z2 = {(r["row"], r["col"]) for r in job2.read_zoom(2).collect()}
    z4 = {(r["row"], r["col"]) for r in job2.read_zoom(4).collect()}
    assert z2 == {(r // 4, c // 4) for r, c in z4}


def test_driver_gate_window_holds_kernel_queries():
    """The driver's CORRECTNESS check reads the first 50 queries() entries
    by position; this pins the window's membership AND order.  Every
    kernel-bearing query sits inside it; the tail holds redundant-kernel
    variants."""
    import __spark_entry__ as m

    q = list(m.queries())
    assert q[:50] == [
        "point_tile_counts", "point_tile_edges", "per_row_zoom_assign",
        "tile_bounds", "tile_affine", "tile_shape_pixelbuffer",
        "tile_shape_metatile", "matrix_dims", "point_tile_grids", "parent_rollup",
        "neighbors", "cover_bbox_modes", "cover_bbox_grids", "cover_multizoom",
        "snap_bounds", "intersecting", "knn_modes", "geom_tiles_modes",
        "pip_join_regions", "crossmodal_dups", "decontaminate", "pack_sequences",
        "raster_windows", "rasterize_bins", "mosaic_modes",
        "raster_analytics_modes", "focal_gradient", "incremental_modes",
        "focal_modes", "verify_images", "phash_near_dup",
        "spatial_phash_pairs", "ann_modes", "ivf_pq_residual_topk", "cosine_topk",
        "stream_tile_counts", "windows_modes", "dedup_exact", "bloom_dedup",
        "text_stats_modes", "neardup_pair_modes", "winnow_fingerprints",
        "repetition_stats", "scrub_pii", "semantic_dedup", "c4_page_filter",
        "dedup_clusters", "source_quota", "label_components", "zorder_scan",
    ]
    assert len(q) == 109
    # every query has an oracle
    o = m.oracle_sql()
    assert [n for n in q if n not in o] == []


def test_readme_query_count_matches_registry():
    """README's surface count is the registry's: drift fails here."""
    import re

    import __spark_entry__ as m

    with open(os.path.join(os.path.dirname(m.__file__), "README.md")) as f:
        readme = f.read()
    n_q, n_o = map(int, re.search(r"(\d+) queries / (\d+) DuckDB oracles", readme).groups())
    assert n_q == n_o == len(m.queries()) == len(m.oracle_sql())


def test_tagged_union_schemas_match_declarations(spark):
    """Every tagged_union declaration, with no action on the union: the
    Spark side's schema is the declared (tag_col, schema), DuckDB DESCRIBE
    of the SQL side gives the same Arrow types, and the SQL side's tags are
    the declared members'."""
    import duckdb
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_type

    import __spark_entry__ as m
    from tools.check_oracle import TABLES, arrow_type_key

    sf_dir = "/root/testdata/sf0.001"
    spark_types = {"int": T.IntegerType(), "long": T.LongType(),
                   "double": T.DoubleType(), "string": T.StringType()}
    unions = [v for v in vars(m).values() if isinstance(v, m.TaggedUnion)]
    assert len(unions) == 13
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    for u in unions:
        declared = [(u.tag_col, "string"), *u.schema]
        sdf = u.q(spark, sf_dir)
        assert [(f.name, f.dataType) for f in sdf.schema] == [
            (c, spark_types[t]) for c, t in declared
        ]
        sql = u.sql()
        desc = con.execute(f"DESCRIBE {sql}").fetchall()
        assert [r[0] for r in desc] == [c for c, _ in declared]
        duck_keys = [
            arrow_type_key(con.execute(f"SELECT NULL::{r[1]} AS x").arrow().schema[0].type)
            for r in desc
        ]
        assert duck_keys == [arrow_type_key(to_arrow_type(f.dataType)) for f in sdf.schema]
        tags = [tag for tag, *_ in u.members]
        got = {r[0] for r in con.execute(f"SELECT DISTINCT {u.tag_col} FROM ({sql})").fetchall()}
        assert got == set(tags) and len(tags) == len(set(tags))


def test_canvas_fixtures_spark_equals_sql(spark):
    """Every canvas_fixture declaration, both halves: the Spark canvases of
    the first kept tile and one interior kept tile equal, pixel by pixel
    and band by band, what DuckDB computes from the same declaration's SQL
    fragments over an empty database; the kept tile sets agree too."""
    import duckdb
    import numpy as np

    import __spark_entry__ as m

    fixtures = {k: v for k, v in vars(m).items() if isinstance(v, m.CanvasFixture)}
    assert len(fixtures) == 7
    con = duckdb.connect()
    for name, fx in fixtures.items():
        kept = sorted(con.execute(fx.sql_tiles()).fetchall())
        interior = [
            (r, c) for r, c in kept
            if fx.rows.start < r < fx.rows.stop - 1 and fx.cols.start < c < fx.cols.stop - 1
        ]
        picks = {kept[0], interior[len(interior) // 2]}
        canvases = {
            (t["row"], t["col"]): t for t in fx.df(spark).collect()
        }
        assert sorted(canvases) == kept, name
        n, nb = fx.tile_px, len(fx.bands)
        for r, c in picks:
            t = canvases[(r, c)]
            assert (t["tile_w"], t["tile_h"]) == (n, n), name
            got = np.frombuffer(bytes(t["bytes"]), dtype=np.uint8).reshape(n, n, nb)
            want = np.full((n, n, nb), -1, dtype=np.int64)
            for i, j, b, v in con.execute(
                f"SELECT i, j, b, v FROM ({fx.sql_pixels()}) WHERE trow = {r} AND tcol = {c}"
            ).fetchall():
                want[i, j, b] = v
            assert np.array_equal(got.astype(np.int64), want), (name, r, c)
