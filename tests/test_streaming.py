"""Structured Streaming parity: streaming windowed tile counts == batch."""

import datetime

from pyspark.sql import functions as F

from tilematrix_spark import streaming


def _events(spark, n, t0):
    phi1, phi2 = 0.7548776662466927, 0.5698402909980532
    rows = [
        (
            i,
            t0 + datetime.timedelta(minutes=i % 60),
            -180.0 + ((i * phi1) % 1.0) * 360.0,
            -90.0 + ((i * phi2) % 1.0) * 180.0,
        )
        for i in range(1, n + 1)
    ]
    return spark.createDataFrame(rows, "id long, ts timestamp, lon double, lat double")


def test_stream_tile_counts_matches_batch(spark, geodetic, tmp_path):
    t0 = datetime.datetime(2024, 1, 1)
    src = str(tmp_path / "in")
    batch_df = _events(spark, 500, t0)
    batch_df.write.parquet(src)

    stream = spark.readStream.schema(batch_df.schema).parquet(src)
    agg = streaming.stream_tile_counts(
        stream, geodetic, 4, window_duration="15 minutes", watermark="5 minutes"
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("tile_counts_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r["window"]["start"], r["row"], r["col"]): r["n"]
        for r in spark.sql("SELECT * FROM tile_counts_stream").collect()
    }
    expected_df = streaming.stream_tile_counts(
        batch_df.withColumnRenamed("ts", "_ts").withColumnRenamed("_ts", "ts"),
        geodetic, 4, window_duration="15 minutes", watermark="5 minutes",
    )
    # batch equivalent: same expressions on the static frame (watermark is a
    # no-op in batch)
    expected = {
        (r["window"]["start"], r["row"], r["col"]): r["n"] for r in expected_df.collect()
    }
    assert got == expected
    assert sum(got.values()) == 500  # scatter starts at 1; no invalid drops at z4 here


def test_stream_incremental_append(spark, geodetic, tmp_path):
    t0 = datetime.datetime(2024, 1, 1)
    src = str(tmp_path / "in2")
    first = _events(spark, 200, t0)
    first.write.parquet(src)

    out = str(tmp_path / "out2")
    ckpt = str(tmp_path / "ckpt2")

    def run_once():
        stream = spark.readStream.schema(first.schema).parquet(src)
        tiled = streaming.stream_with_tile(stream, geodetic, 5)
        q = (
            tiled.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    assert spark.read.parquet(out).count() == 200

    # append a second chunk; restart from checkpoint processes ONLY new files
    second = _events(spark, 300, t0 + datetime.timedelta(hours=2)).filter("id > 200")
    second.write.mode("append").parquet(src)
    run_once()
    assert spark.read.parquet(out).count() == 300  # 200 + the 100 new rows

    # a third run with no new input adds nothing (exactly-once file progress)
    run_once()
    assert spark.read.parquet(out).count() == 300


def test_stream_exact_dedup_stateful(spark, tmp_path):
    """applyInPandasWithState: duplicates are dropped ACROSS micro-batches."""
    src = str(tmp_path / "docs_in")
    ckpt = str(tmp_path / "docs_ckpt")
    first = spark.createDataFrame(
        [(1, "alpha beta"), (2, "ALPHA   beta"), (3, "gamma delta")],
        "doc_id long, text string",
    )
    first.write.parquet(src)

    out_dir = str(tmp_path / "docs_out")

    def run_once():
        stream = spark.readStream.schema(first.schema).parquet(src)
        out = streaming.stream_exact_dedup(stream)
        q = (
            out.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    got1 = {r["doc_id"]: r["is_new"] for r in spark.read.parquet(out_dir).collect()}
    # docs 1 and 2 normalize identically -> one survivor (smallest id)
    assert got1 == {1: True, 3: True}

    # second batch: another copy of doc 1's text plus a new doc — the state
    # store remembers fingerprints across restarts, so only the new doc emerges
    spark.createDataFrame(
        [(10, "alpha  beta"), (11, "epsilon zeta")], "doc_id long, text string"
    ).write.mode("append").parquet(src)
    run_once()
    got2 = {r["doc_id"] for r in spark.read.parquet(out_dir).collect()}
    assert got2 == {1, 3, 11}  # cumulative sink: batch-2 adds only doc 11


def test_incremental_tile_sink_matches_full_compose(spark, geodetic, tmp_path):
    """Streamed micro-batches through the incremental sink produce the SAME
    tile table as one full compose over all images — per-tile canvas bytes
    included — and a replayed batch (crash-retry) changes nothing."""
    from tilematrix_spark import images, raster

    src = str(tmp_path / "in")
    corpus = str(tmp_path / "corpus")
    tiles = str(tmp_path / "tiles")
    all_imgs = images.images_df(spark, 120, partitions=4)
    split = "img%012d" % 80
    # two source files -> two micro-batches with maxFilesPerTrigger=1
    all_imgs.filter(F.col("image_id") < split).coalesce(1).write.parquet(src + "/a")
    all_imgs.filter(F.col("image_id") >= split).coalesce(1).write.parquet(src + "/b")

    sink = streaming.incremental_tile_sink(geodetic, 4, corpus, tiles, n_buckets=8)
    stream = (
        spark.readStream.schema(all_imgs.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    def canvases(df):
        return {
            (r["row"], r["col"]): (r["n_images"], bytes(r["bytes"]))
            for r in df.select("row", "col", "n_images", "bytes").collect()
        }

    got = canvases(spark.read.parquet(tiles))
    want = canvases(raster.compose_tiles(all_imgs, geodetic, 4))
    assert set(got) == set(want)
    assert got == want
    # corpus table holds every image exactly once across batch partitions
    assert spark.read.parquet(corpus).count() == 120

    # crash-retry: re-running the LAST batch (corpus already appended is
    # the post-4 state; replay the pre-4 state by re-invoking on the same
    # batch after dropping its corpus partition) must reproduce the same
    # table
    import shutil

    batch_dirs = [
        p for p in __import__("os").listdir(corpus) if p.startswith("batch_id=")
    ]
    last = sorted(batch_dirs)[-1]
    shutil.rmtree(f"{corpus}/{last}")
    sink(all_imgs.filter(F.col("image_id") >= split), int(last.split("=")[1]))
    assert canvases(spark.read.parquet(tiles)) == want
    assert spark.read.parquet(corpus).count() == 120

    # crash-retry AFTER the corpus append (post-step-4, pre-checkpoint-
    # commit): the batch_id partition is LEFT IN PLACE and the sink
    # re-invoked with the same batch — the batch_id exclusion in the
    # corpus read must keep every batch image blended exactly once
    # (without it the replayed images are double-counted into canvases)
    sink(all_imgs.filter(F.col("image_id") >= split), int(last.split("=")[1]))
    assert canvases(spark.read.parquet(tiles)) == want
    assert spark.read.parquet(corpus).count() == 120


def test_incremental_ann_sink_exactly_once(spark, tmp_path):
    """Streamed vectors become probe-visible as committed index deltas; a
    restart with the same checkpoint appends nothing (lineage marker =
    idempotence token); new files appended to the source land as a new
    delta; the stream namespace is separate from manual batches."""
    import argparse
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "jobs"))
    import ann_index_job

    from tilematrix_spark import annstore
    from tilematrix_spark.io import Lineage

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.filter("vec_id < 300")
    basep = str(tmp_path / "basevec")
    base.write.parquet(basep)
    out = str(tmp_path / "annidx")
    ann_index_job.run(spark, argparse.Namespace(
        input=basep, output=out, id_col="vec_id", vec_col="embedding",
        m=8, k=16, n_centroids=4, nprobe=2, topk=3, n_queries=4,
    ))

    src = str(tmp_path / "vecstream")
    emb.filter("vec_id >= 300 AND vec_id < 400").write.parquet(src)
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        stream = spark.readStream.schema(emb.schema).parquet(src)
        q = (
            stream.writeStream.foreachBatch(streaming.incremental_ann_sink(out))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    assert annstore.read_index(spark, out).count() == 400
    run_once()  # restart, no new files: nothing appended
    assert annstore.read_index(spark, out).count() == 400
    emb.filter("vec_id >= 400").write.mode("append").parquet(src)
    run_once()  # only the new files are processed, as a fresh delta
    merged = annstore.read_index(spark, out)
    assert merged.count() == 500
    assert merged.select("vec_id").distinct().count() == 500
    units = [u for u in Lineage(out).committed() if u.startswith("delta=stream_")]
    assert len(units) == 2  # one per non-empty micro-batch
