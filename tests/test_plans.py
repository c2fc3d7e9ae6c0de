"""Physical-plan quality gates: column pruning, codegen, broadcast joins,
no Python in native pipelines — the properties that make the operators hold
up at 100 TB (asserted, not assumed)."""

import json

import pytest
from pyspark.sql import functions as F

from tilematrix_spark import images
from tilematrix_spark.operators import assign, cover, knn, pip


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_assign_plan_prunes_and_codegens(spark, geodetic):
    df = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    lon = F.lit(-180.0) + (F.col("event_id") * F.lit(0.7548776662466927)) % F.lit(1.0) * F.lit(360.0)
    lat = F.lit(-90.0) + (F.col("event_id") * F.lit(0.5698402909980532)) % F.lit(1.0) * F.lit(180.0)
    pts = df.withColumn("lon", lon).withColumn("lat", lat)
    out = assign.salted_agg(
        assign.with_tile(pts, geodetic, 5, out_tile_id=None),
        ["row", "col"], {"n": "count:*"}, 8,
    )
    plan = _plan(out)
    # column pruning: the parquet scan reads ONLY event_id
    scan = plan[plan.index("Scan parquet"):]
    read_schema = [line for line in scan.splitlines() if "ReadSchema" in line][0]
    assert read_schema.strip() == "ReadSchema: struct<event_id:bigint>"
    # fully native: no Python/Arrow eval nodes in the pipeline
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # salted two-stage shape: two exchanges (partial agg then final)
    assert sum(1 for line in plan.splitlines() if line.startswith("(") and ") Exchange" in line) == 2


def test_knn_plan_one_density_collect_then_broadcast(spark, geodetic):
    """Building ``knn_join`` launches no more jobs than its one density
    collect (a z6 ``groupBy(row, col).count().collect()``), and the returned
    plan joins the point table against a broadcast ring side, never by a
    sort-merge shuffle."""
    pts = spark.createDataFrame(
        [(i, float(i % 170 - 85), float(i % 80 - 40)) for i in range(200)],
        "pid long, lon double, lat double",
    )
    q = pts.filter(F.col("pid") % 40 == 3).withColumnRenamed("pid", "qid")
    sc = spark.sparkContext

    def jobs(group, build):
        sc.setJobGroup(group, group)
        try:
            return build(), len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    _, density_jobs = jobs(
        "knn_plan_density",
        lambda: assign.with_tile(pts, geodetic, 6).groupBy("row", "col").count().collect(),
    )
    out, build_jobs = jobs(
        "knn_plan_build",
        lambda: knn.knn_join(q, pts, geodetic, zoom=6, k=3, query_id="qid", point_id="pid"),
    )
    assert 0 < build_jobs <= density_jobs
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert out.count() == 3 * q.count()


def test_pip_plan_broadcasts_polygon_index(spark, geodetic):
    pts = spark.createDataFrame(
        [(i, float(i % 170 - 85), float(i % 80 - 40)) for i in range(100)],
        "point_id long, lon double, lat double",
    )
    poly = {"type": "Polygon", "coordinates": [[(0, 0), (30, 0), (15, 30), (0, 0)]]}
    polys = spark.createDataFrame([(1, json.dumps(poly))], "poly_id long, geometry string")
    out = pip.pip_join(pts, polys, geodetic, zoom=3)
    assert "BroadcastHashJoin" in _plan(out)


def test_cover_plan_is_generate_no_shuffle(spark, geodetic):
    df = spark.createDataFrame(
        [(1, -10.0, -10.0, 25.0, 20.0)], "id int, l double, b double, r double, t double"
    )
    out = cover.tiles_from_bounds(df, geodetic, 6, "l", "b", "r", "t")
    plan = _plan(out)
    # pure generate pipeline: two explodes, zero exchanges, zero Python
    assert sum(1 for line in plan.splitlines() if line.startswith("(") and ") Generate" in line) == 2
    assert not any(line.startswith("(") and ") Exchange" in line for line in plan.splitlines())
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_images_pipeline_is_arrow_not_row_python(spark):
    df = images.images_df(spark, 10, partitions=2)
    plan = _plan(df)
    # mapInPandas shows as MapInPandas (Arrow), never row-wise BatchEvalPython
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_join_keys_are_attributes_not_inlined_trees(spark, geodetic):
    """with_tile output joined on (row, col) must present plain attribute
    references as join keys — if projection collapse inlines the tile
    arithmetic into the keys, the join stage re-evaluates the whole tree
    per probe (measured 6x slower)."""
    import re

    pts = spark.createDataFrame(
        [(i, float(i % 170 - 85), float(i % 80 - 40)) for i in range(100)],
        "point_id long, lon double, lat double",
    )
    idx = spark.createDataFrame(
        [(1, 2, 3), (2, 4, 5)], "poly_id long, row long, col long"
    )
    tiled = assign.with_tile(pts, geodetic, 4, out_tile_id=None)
    joined = tiled.join(F.broadcast(idx), ["row", "col"], "inner")
    plan = _plan(joined)
    m = re.search(r"Left keys \[2\]: \[([^\]]*)\]", plan)
    assert m, plan
    keys = m.group(1)
    # plain attribute refs look like `row#123L`; an inlined tree contains
    # function calls / CASE WHEN
    assert "CASE" not in keys and "(" not in keys, keys


def test_minhash_self_join_materializes_once(spark):
    """The LSH band self-join must not re-execute the shingle/signature
    pipeline per side: after the barrier at most one scan remains."""
    from tilematrix_spark.functions import dedup as dedupfns

    docs = spark.createDataFrame(
        [(i, f"some repeated text body number {i % 7} with words") for i in range(50)],
        "doc_id long, text string",
    )
    out = dedupfns.minhash_lsh_pairs(docs, num_hashes=8, bands=4)
    plan = _plan(out)
    assert plan.count("Scan ExistingRDD") >= 1  # checkpoint barrier present
    assert plan.count("SortAggregate") + plan.count("HashAggregate (") <= 6


def test_cover_split_plan_no_shuffle_three_generates(spark, geodetic):
    """The row-band auto-split adds ONE cheap Generate before the row/col
    explodes — still zero Exchange (split is per-row arithmetic, the
    repartition knob stays opt-in) and fully native codegen."""
    df = spark.createDataFrame(
        [(1, -30.0, -20.0, 30.0, 20.0)],
        "id int, left double, bottom double, right double, top double",
    )
    out = cover.tiles_from_bounds(df, geodetic, 9, max_cover_tiles=256)
    plan = _plan(out)
    assert ") Exchange" not in plan
    gens = sum(1 for line in plan.splitlines() if line.startswith("(") and ") Generate" in line)
    assert gens == 3  # band + row + col
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_overview_plan_one_shuffle_bounded_groups(spark, geodetic):
    """One overview level = exactly one Exchange (the parent-key
    repartition feeding the collect_list agg; at most 4 single-tile
    elements per group — bounded memory at any corpus size) feeding one
    MapInPandas that downsamples whole Arrow batches of parents (no
    per-group pandas frames)."""
    from tilematrix_spark import raster

    tiles = spark.createDataFrame(
        [(2, 3, 1, 4, 4, bytearray(b"\0" * 48))],
        "row long, col long, n_images int, tile_w int, tile_h int, bytes binary",
    )
    plan = _plan(raster.overview_level(tiles))
    ex = sum(1 for line in plan.splitlines() if line.startswith("(") and ") Exchange" in line)
    assert ex == 1, plan
    mp = sum(
        1 for line in plan.splitlines()
        if line.startswith("(") and (") MapInPandas" in line or ") PythonMapInArrow" in line)
    )
    assert mp == 1, plan
    assert "FlatMapGroupsInPandas" not in plan, plan
    assert "ObjectHashAggregate" in plan or "SortAggregate" in plan, plan
    # the parent exchange has an explicit partition count, so AQE cannot
    # coalesce a well-compressed canvas shuffle into one Python task
    assert "REPARTITION_BY_NUM" in plan, plan


def test_incremental_compose_one_broadcast_semi_join(spark, geodetic):
    """The dirty-tile restriction reaches the windows pipeline as ONE
    BROADCAST left-semi join in front of the map-side decode (no shuffled
    join): at corpus scale the dirty key set is the small side by
    construction, and clean tiles' contributors are never decoded."""
    from tilematrix_spark import incremental

    imgs = images.images_df(spark, 64, partitions=4)
    split = "img%012d" % 48
    old = imgs.filter(F.col("image_id") < split)
    upd = imgs.filter(F.col("image_id") >= split)
    plan = _plan(incremental.incremental_compose(old, upd, geodetic, 4))
    semi = [
        line
        for line in plan.splitlines()
        if "BroadcastHashJoin" in line and "LeftSemi" in line
    ]
    assert len(semi) == 1, plan
    assert "SortMergeJoin" not in plan, plan


def test_raster_tile_windows_binds_tile_geometry_once(spark, geodetic):
    """The tile left/top/width/height are bound columns the window math
    reads: the antimeridian when-chain must not inline a copy of the
    tile_shape rounding per use (20 ``bround(`` before binding)."""
    from tilematrix_spark import raster

    win = raster.raster_tile_windows(images.images_df(spark, 64, partitions=4), geodetic, 4)
    assert _plan(win).count("bround(") <= 2


def test_compose_one_exchange_map_side_partials(spark, geodetic):
    """compose_tiles decodes in the scan's stage and shuffles only
    covered-pixel partials: one Exchange (the (row, col) repartition, which
    AQE does not coalesce) between the two batch MapInPandas kernels
    (partials, merge), and no per-group pandas.  The one windows pass keeps the optimized plan to 13
    ``bround(`` at z3 (48 with the old counts/cold/hot split)."""
    from tilematrix_spark import raster

    out = raster.compose_tiles(images.images_df(spark, 64, partitions=4), geodetic, 3)
    plan = _plan(out)
    assert _nodes(plan, "Exchange") == 1, plan
    assert "REPARTITION_BY_NUM" in plan, plan
    kernels = [line for line in plan.splitlines() if line.startswith("Arguments: ")]
    assert sum(k.startswith("Arguments: partials(") for k in kernels) == 1, plan
    assert sum(k.startswith("Arguments: merge(") for k in kernels) == 1, plan
    assert "FlatMapGroupsInPandas" not in plan, plan
    assert str(out._jdf.queryExecution().optimizedPlan()).count("bround(") <= 13


def test_compose_builds_one_windows_pass(spark, geodetic, monkeypatch):
    """compose_tiles and incremental_compose each build the windows pass
    exactly once: dirty keys and canvases both derive from it."""
    from tilematrix_spark import incremental, raster

    calls = []
    build = raster._windows

    def counting(*args, **kwargs):
        calls.append(1)
        return build(*args, **kwargs)

    monkeypatch.setattr(raster, "_windows", counting)
    imgs = images.images_df(spark, 64, partitions=4)
    raster.compose_tiles(imgs, geodetic, 4)
    assert len(calls) == 1
    split = "img%012d" % 48
    incremental.incremental_compose(
        imgs.filter(F.col("image_id") < split), imgs.filter(F.col("image_id") >= split),
        geodetic, 4,
    )
    assert len(calls) == 2


def test_spatial_split_is_pure_projection(spark, geodetic):
    """Fold assignment must be a shuffle-free native projection — at corpus
    scale it runs inside the scan stage (no Exchange, no Python)."""
    from tilematrix_spark.functions import sampling

    pts = spark.createDataFrame(
        [(i, float(i % 170 - 85), float(i % 80 - 40)) for i in range(50)],
        "image_id long, lon double, lat double",
    )
    plan = _plan(sampling.spatial_split(pts, geodetic, 6, block=4))
    assert ") Exchange" not in plan, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan


def test_rasterize_bins_partial_aggregates_before_shuffle(spark, geodetic):
    """Point->bin burn must partial-aggregate map-side: the shuffle carries
    one row per non-empty pixel bin, never per point, and the binning math
    stays native (no Python eval nodes)."""
    from tilematrix_spark import raster

    pts = spark.createDataFrame(
        [(float(i % 170 - 85), float(i % 80 - 40)) for i in range(100)],
        "lon double, lat double",
    )
    plan = _plan(raster.rasterize_bins(pts, geodetic, 5))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
    ex = sum(1 for line in plan.splitlines() if line.startswith("(") and ") Exchange" in line)
    assert ex == 1, plan
    # partial HashAggregate before the exchange (two agg nodes total)
    aggs = plan.count("HashAggregate")
    assert aggs >= 2, plan


def test_spatial_phash_guard_broadcasts_hot_set(spark, geodetic):
    """The hot-tile split must ride BROADCAST anti/semi joins (the hot set
    is tiny by construction — tiles over the cap); a shuffled join here
    would move every row twice.  The phash math (bands, xor, bit_count)
    stays native end-to-end."""
    from tilematrix_spark.functions import multimodal

    pts = spark.createDataFrame(
        [
            (i, float(i % 170 - 85), float(i % 80 - 40), (i * 2654435761) % (1 << 60))
            for i in range(300)
        ],
        "image_id long, lon double, lat double, phash long",
    )
    plan = _plan(
        multimodal.spatial_phash_pairs(
            pts, geodetic, 4, max_hamming=4, max_tile_contributors=5
        )
    )
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
    assert "SortMergeJoin LeftSemi" not in plan, plan
    assert "SortMergeJoin LeftAnti" not in plan, plan
    semi = [
        line
        for line in plan.splitlines()
        if "BroadcastHashJoin" in line and ("LeftSemi" in line or "LeftAnti" in line)
    ]
    # cold anti + probe/base hot semi restrictions
    assert len(semi) >= 3, plan


def test_pack_token_stream_single_exchange_native(spark):
    """Sequence packing: ONE exchange (the bucket key), everything else
    projection + window — no Python nodes, no extra shuffle."""
    from tilematrix_spark.functions import text as textfns

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(textfns.pack_token_stream(docs, 256, 8))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert sum(1 for line in plan.splitlines() if line.startswith("(") and ") Exchange" in line) == 1
    # pruning: only doc_id and text leave the scan
    scan = plan[plan.index("Scan parquet"):]
    read_schema = [line for line in scan.splitlines() if "ReadSchema" in line][0]
    assert "doc_id" in read_schema and "text" in read_schema and "lang" not in read_schema


def test_decontaminate_broadcasts_test_side(spark):
    """Decontamination: both test-side joins (fingerprints, exact hashes)
    are broadcast — the training corpus is never shuffled on a text key."""
    from tilematrix_spark.functions import dedup as dedupfns

    train = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    test = train.filter("doc_id % 50 = 0").selectExpr("doc_id AS test_id", "text")
    plan = _plan(dedupfns.decontaminate(train, test))
    # the fp equi-join and the hash equi-join build on the broadcast side
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin Inner" not in plan  # no corpus-wide text-key SMJ


def test_strip_boilerplate_broadcasts_boiler_set(spark):
    """Boilerplate-line removal: the df>=min_df line set is BROADCAST into
    the anti-join (the corpus is never shuffled on a line fingerprint);
    the only corpus-wide exchange is the final groupBy on the doc id."""
    from tilematrix_spark.functions import dedup as dedupfns

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(dedupfns.strip_boilerplate_lines(docs))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin LeftAnti" not in plan


def _nodes(plan: str, name: str) -> int:
    """Number of ``name`` nodes in a formatted plan (its detail headers)."""
    return sum(
        1 for line in plan.splitlines() if line.startswith("(") and f") {name}" in line
    )


_JOINS = ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
          "BroadcastNestedLoopJoin", "CartesianProduct")


def test_ivf_pq_residual_probe_fused_adc_scan(spark):
    """Residual IVFADC probe: the per-(query, cell) ADC tables ride a
    broadcast into ONE map-side scan over the index codes — no join on the
    index side (a per-query table joined onto candidate rows costs
    table bytes x candidates), one MapInArrow, and the index encode as the
    only Arrow UDF."""
    from tilematrix_spark.functions import similarity as simfns

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    out = simfns.ivf_pq_residual_topk(queries, emb, n_centroids=8, nprobe=2, k=3)
    plan = _plan(out)
    assert not any(_nodes(plan, j) for j in _JOINS), plan
    assert _nodes(plan, "MapInArrow") == 1
    assert _nodes(plan, "ArrowEvalPython") <= 1
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_ivf_pq_residual_probe_prunes_cell_partitions(spark, tmp_path):
    """On the cell-partitioned index that ``jobs/ann_index_job.py`` commits,
    the topk probe's literal ``_cell IN (probed cells)`` filter reaches the
    scan as a partition filter: unprobed cells are never read."""
    import argparse
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    import ann_index_job

    from tilematrix_spark.functions import similarity as simfns
    from tilematrix_spark.io import TableIO

    out = str(tmp_path / "annidx")
    args = argparse.Namespace(
        input="/root/testdata/sf0.001/embeddings.parquet", output=out,
        id_col="vec_id", vec_col="embedding", m=8, k=16, n_centroids=8,
        nprobe=2, topk=3, n_queries=4,
    )
    ann_index_job.run(spark, args)
    io = TableIO(spark)
    cq = simfns.int_centroids_from_rows(io.read(os.path.join(out, "stage=centroids")))
    books = simfns.codebooks_from_rows(io.read(os.path.join(out, "stage=codebooks")))
    emb = spark.read.parquet(args.input)
    queries = emb.filter(F.col("vec_id") < args.n_queries).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    probe = simfns.ivf_pq_residual_probe(
        queries, io.read(os.path.join(out, "stage=index")), books, cq,
        k=args.topk, nprobe=args.nprobe,
    )
    scan = [
        line for line in _plan(probe).splitlines()
        if line.startswith("PartitionFilters:")
    ]
    assert len(scan) == 1 and "_cell" in scan[0] and " IN (" in scan[0], scan
    assert probe.count() == args.n_queries * args.topk


def test_simhash_one_md5_per_token(spark):
    """SimHash: the token hashes are one bound array column, so the plan
    holds exactly ONE md5 — the 16 bit votes fold over that array instead
    of re-hashing every token once per bit."""
    from tilematrix_spark.functions import dedup as dedupfns

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert _plan(dedupfns.simhash_buckets(docs)).count("md5(") == 1


def test_minhash_refine_without_shingle_join(spark):
    """MinHash verified pairs: the refine scores candidate pairs by set
    intersection of their shingle arrays — no join keyed on a shingle."""
    from tilematrix_spark.functions import dedup as dedupfns

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(dedupfns.minhash_verified_pairs(docs))
    keys = [line for line in plan.splitlines() if " keys [" in line]
    assert keys and not any("shingle" in line for line in keys), keys
    assert "array_intersect(" in plan


def test_scrub_pii_pure_projection(spark):
    """PII redaction: one narrow projection over the scan — no Exchange,
    no Python nodes, regexps entirely JVM-side."""
    from tilematrix_spark.functions import text as textfns

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    c = textfns.pii_counts("text")
    out = docs.select(
        "doc_id",
        textfns.scrub_pii("text").alias("scrubbed"),
        c["n_emails"].alias("n_emails"),
    )
    plan = _plan(out)
    assert "Exchange" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_semantic_dedup_one_exchange_per_side(spark):
    """SemDeDup: ONE Arrow encode kernel (quantize + cell + norm) behind a
    localCheckpoint, then a single equi-join on the cell key — the integer
    cosine filter above the join is pure JVM expressions (no Python above
    the encode, no row-at-a-time nodes anywhere)."""
    from tilematrix_spark.functions import similarity as simfns

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    plan = _plan(simfns.semantic_dedup(emb, threshold=0.95, n_centroids=8))
    # encode ran once, inside the checkpoint: the visible plan re-reads the
    # checkpointed RDD and has NO Python nodes at all
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Scan ExistingRDD" in plan  # both sides read the ONE encode pass
    # exactly one join NODE (formatted plans list each node in both the
    # tree outline and the detail section — count detail headers only)
    join_nodes = [
        line for line in plan.splitlines()
        if line.startswith("(") and any(
            f") {j}" in line
            for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")
        )
    ]
    assert len(join_nodes) == 1, join_nodes
    # the explode barrier holds: the 64-wide dot product appears exactly
    # once (pushdown would inline it 3x into the join condition)
    assert plan.count("zip_with(_qa") == 1


@pytest.mark.parametrize("op", ["zonal_stats", "zonal_poly_stats", "zonal_class_counts"])
def test_zonal_stats_broadcasts_windows_single_exchange(spark, geodetic, op):
    """Every zonal op: the zone-window table BROADCASTS into the canvas
    join (tile bytes never cross an exchange — they flow scan -> Arrow
    kernel); the only Exchange is the final zone aggregation."""
    from tilematrix_spark import raster

    tiles = spark.createDataFrame(
        [(2, 4, 2, 2, bytearray(b"\x01" * 12))],
        "row long, col long, tile_w int, tile_h int, bytes binary",
    )
    if op == "zonal_poly_stats":
        zones = spark.createDataFrame(
            [(1, [-157.0, -156.0, -157.0], [74.0, 74.0, 75.0])],
            "zone_id long, poly_x array<double>, poly_y array<double>",
        )
        out = raster.zonal_poly_stats(tiles, zones, geodetic, 5)
    else:
        zones = spark.createDataFrame(
            [(1, -157.0, 74.0, -156.0, 75.0)],
            "zone_id long, left double, bottom double, right double, top double",
        )
        out = getattr(raster, op)(tiles, zones, geodetic, 5)
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    ex = sum(
        1
        for line in plan.splitlines()
        if line.startswith("(") and ") Exchange" in line
    )
    assert ex == 1, plan


def test_focal_stats_single_exchange_strips_only(spark, geodetic):
    """focal_stats: exactly ONE Exchange (the groupBy assembling the padded
    plane from center + neighbor strips) and exactly TWO MapInPandas nodes
    (strip emission, assemble/stat) — no per-group pandas frames, no extra
    shuffle, no join anywhere in the stencil."""
    from tilematrix_spark import raster
    from tilematrix_spark.grid import PyramidConfig

    tp = PyramidConfig.create("geodetic", tile_size=8)
    tiles = spark.createDataFrame(
        [(0, 0, 8, 8, bytearray(b"\x01" * 64))],
        "row long, col long, tile_w int, tile_h int, bytes binary",
    )
    plan = _plan(raster.focal_stats(tiles, tp, 0, radius=1))
    ex = sum(
        1
        for line in plan.splitlines()
        if line.startswith("(") and ") Exchange" in line
    )
    assert ex == 1, plan
    mp = sum(
        1
        for line in plan.splitlines()
        if line.startswith("(") and ") MapInPandas" in line
    )
    assert mp == 2, plan
    assert "FlatMapGroupsInPandas" not in plan, plan
    assert "Join" not in plan, plan
    assert "ObjectHashAggregate" in plan or "SortAggregate" in plan, plan


def test_bloom_probe_broadcast_single_exchange_native(spark):
    """bloom_probe: the bits summary BROADCASTS into the exploded positions
    (no SortMergeJoin, no join-back on the batch — carries ride the one
    groupBy exchange) and the position math is native md5/conv/shift (zero
    Python nodes)."""
    from tilematrix_spark.functions import dedup

    newfp = spark.createDataFrame([(1, "aa")], "doc_id long, fp string")
    bits = dedup.bloom_bits(
        spark.createDataFrame([("bb",)], "fp string"), m=256, k=4
    )
    plan = _plan(dedup.bloom_probe(newfp, bits, m=256, k=4))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan
    ex = sum(
        1
        for line in plan.splitlines()
        if line.startswith("(") and ") Exchange" in line
    )
    # one exchange for the probe groupBy + one inside bits' own word agg
    assert ex == 2, plan
    for node in ("MapInPandas", "BatchEvalPython", "ArrowEvalPython"):
        assert node not in plan, plan


def test_bloom_dedup_verify_broadcasts_no_corpus_shuffle(spark):
    """bloom_incremental_dedup end-to-end: candidate fps broadcast into the
    history scan and matches broadcast back onto the (checkpointed) probe
    output — no SortMergeJoin anywhere, so neither corpus shuffles on a
    text key."""
    from tilematrix_spark.functions import dedup

    new = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    hist = spark.createDataFrame([(2, "c d")], "doc_id long, text string")
    plan = _plan(dedup.bloom_incremental_dedup(new, hist, m=256, k=4))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan


def test_incremental_focal_broadcast_restriction_no_smj(spark, geodetic):
    """incremental_focal: the ring restriction reaches the canvas-bearing
    side as BROADCAST semi-joins (no SortMergeJoin — canvas bytes never
    shuffle on a join key; the only Exchange is the halo groupBy)."""
    from tilematrix_spark import incremental
    from tilematrix_spark.grid import PyramidConfig

    tp = PyramidConfig.create("geodetic", tile_size=8)
    base = spark.createDataFrame(
        [(1, 2, 8, 8, bytearray(b"\x01" * 64))],
        "row long, col long, tile_w int, tile_h int, bytes binary",
    )
    upd = spark.createDataFrame(
        [(1, 2, 8, 8, bytearray(b"\x02" * 64))],
        "row long, col long, tile_w int, tile_h int, bytes binary",
    )
    plan = _plan(incremental.incremental_focal(base, upd, tp, 2, radius=1))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan


def test_upsample_plan_single_exchange_no_join(spark):
    """upsample_children: the focal shape — ONE Exchange (halo assembly
    groupBy), TWO MapInPandas (strips, separable upsample), no join; the
    4x child fan-out happens inside the Arrow kernel, never as a
    Spark-side explode of canvas bytes."""
    from tilematrix_spark import raster
    from tilematrix_spark.grid import PyramidConfig

    tp = PyramidConfig.create("geodetic", tile_size=8)
    tiles = spark.createDataFrame(
        [(0, 0, 8, 8, bytearray(b"\x01" * 64))],
        "row long, col long, tile_w int, tile_h int, bytes binary",
    )
    plan = _plan(raster.upsample_children(tiles, tp, 0))
    ex = sum(
        1
        for line in plan.splitlines()
        if line.startswith("(") and ") Exchange" in line
    )
    assert ex == 1, plan
    mp = sum(
        1
        for line in plan.splitlines()
        if line.startswith("(") and ") MapInPandas" in line
    )
    assert mp == 2, plan
    assert "Generate" not in plan, plan  # no explode of canvas rows
    assert "Join" not in plan, plan


def test_contrast_stretch_remap_no_shuffle(spark):
    """contrast_stretch pass 2: the remap is a pure scan -> MapInPandas
    projection — ZERO Exchange, zero join (the cut points ride in the task
    closure, canvas bytes never shuffle)."""
    from tilematrix_spark import raster

    tiles = spark.createDataFrame(
        [(0, 0, 8, 8, bytearray(bytes(range(64))))],
        "row long, col long, tile_w int, tile_h int, bytes binary",
    )
    plan = _plan(raster.contrast_stretch(tiles, emit="pixels"))
    ex = sum(
        1
        for line in plan.splitlines()
        if line.startswith("(") and ") Exchange" in line
    )
    assert ex == 0, plan
    assert "Join" not in plan, plan


def test_global_histogram_partial_combine_tiny_shuffle(spark):
    """global_histogram: the only Exchange moves the <=256-row bincount
    partials (hashpartitioning on val), never canvas bytes — the scan
    feeds MapInPandas directly, and the final agg is a plain hash agg
    over (val, n)."""
    from tilematrix_spark import raster

    tiles = spark.createDataFrame(
        [(0, 0, 8, 8, bytearray(bytes(range(64))))],
        "row long, col long, tile_w int, tile_h int, bytes binary",
    )
    plan = _plan(raster.global_histogram(tiles))
    ex_lines = [
        line
        for line in plan.splitlines()
        if line.startswith("(") and ") Exchange" in line
    ]
    assert len(ex_lines) == 1, plan
    # the exchange partitions on the 256-value key, not on tile keys
    ex_detail = plan[plan.index("Exchange"):]
    assert "val" in ex_detail.splitlines()[0] or "hashpartitioning(val" in plan, plan


def test_diff_tiles_one_join_batch_reduce(spark):
    """diff_tiles: exactly ONE Join (the epoch equi-join on the tile key)
    and ONE MapInPandas (whole-batch delta reduce) — no grouping, no
    second shuffle after the join."""
    from tilematrix_spark import raster

    mk = spark.createDataFrame(
        [(0, 0, 8, 8, bytearray(b"\x02" * 64))],
        "row long, col long, tile_w int, tile_h int, bytes binary",
    )
    plan = _plan(raster.diff_tiles(mk, mk))
    joins = sum(1 for line in plan.splitlines()
                if line.startswith("(") and "Join" in line)
    assert joins == 1, plan
    mp = sum(
        1
        for line in plan.splitlines()
        if line.startswith("(") and ") MapInPandas" in line
    )
    assert mp == 1, plan
    assert "FlatMapGroupsInPandas" not in plan, plan


def test_hillshade_plan_single_exchange_no_join(spark):
    """hillshade: the focal stencil shape — ONE Exchange (halo assembly
    groupBy), TWO MapInPandas (strip emission, Sobel + illumination
    kernel), no join, no per-group pandas frames; the sqrt/division run
    on int64 columns inside the Arrow kernel, never as Spark expressions
    that Catalyst could duplicate."""
    from tilematrix_spark import raster
    from tilematrix_spark.grid import PyramidConfig

    tp = PyramidConfig.create("geodetic", tile_size=8)
    tiles = spark.createDataFrame(
        [(0, 0, 8, 8, bytearray(b"\x01" * 64))],
        "row long, col long, tile_w int, tile_h int, bytes binary",
    )
    plan = _plan(raster.hillshade(tiles, tp, 0))
    ex = sum(
        1
        for line in plan.splitlines()
        if line.startswith("(") and ") Exchange" in line
    )
    assert ex == 1, plan
    mp = sum(
        1
        for line in plan.splitlines()
        if line.startswith("(") and ") MapInPandas" in line
    )
    assert mp == 2, plan
    assert "FlatMapGroupsInPandas" not in plan, plan
    assert "Join" not in plan, plan


def test_exact_substr_plan_materializes_grams_once(spark):
    """exact_substr_spans feeds the gram-fingerprint explode into BOTH the
    ownership aggregate and the occurrence join; without the barrier each
    side would re-tokenize and re-hash every L-gram (the expensive map-side
    term).  After the localCheckpoint at most the barrier scans remain, and
    the L-wide md5 projection appears in no live plan node."""
    from tilematrix_spark.functions import dedup as dedupfns

    docs = spark.createDataFrame(
        [(i, f"shared run of words number {i % 5} plus tail {i}") for i in range(40)],
        "doc_id long, text string",
    )
    plan = _plan(dedupfns.exact_substr_spans(docs, min_len=3))
    assert plan.count("Scan ExistingRDD") >= 1  # checkpoint barrier present
    assert "posexplode" not in plan and "Generate" not in plan, plan


def test_importance_scores_plan_broadcasts_distributions(spark):
    """The bucket-distribution side (<= n_buckets rows) must broadcast onto
    the corpus feature scan — never a shuffle of the corpus on a text/hash
    key — and the feature table must be barriered so tokenize+md5 runs once
    (it feeds both the raw distribution and the per-doc join)."""
    from tilematrix_spark.functions import sampling

    raw = spark.createDataFrame(
        [(i, f"words number {i % 5} with shared tails") for i in range(60)],
        "doc_id long, text string",
    )
    target = spark.createDataFrame(
        [(0, "words number zero with shared tails")], "doc_id long, text string"
    )
    plan = _plan(sampling.importance_scores(raw, target))
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("Scan ExistingRDD") >= 1, plan


def test_label_components_plan_barriers_kernel_no_group_pandas(spark):
    """label_components reads canvas bytes in ONE mapInPandas pass whose
    output is barriered (it feeds per-label stats AND two border joins —
    without the checkpoint each consumer would re-run CCL per tile), the
    global merge runs on the label graph (no per-group pandas anywhere),
    and no Exchange ships the bytes column."""
    import numpy as np
    import pandas as pd

    from tilematrix_spark import raster

    rows = [
        {"row": r, "col": c, "tile_w": 8, "tile_h": 8,
         "bytes": ((np.arange(64, dtype=np.int64) * (r + 2 * c + 3)) % 251)
         .astype(np.uint8).tobytes()}
        for r in range(2) for c in range(2)
    ]
    out = raster.label_components(
        spark.createDataFrame(pd.DataFrame(rows)), threshold=100
    )
    plan = _plan(out)
    assert plan.count("Scan ExistingRDD") >= 1, plan
    assert "FlatMapGroupsInPandas" not in plan, plan
    for line in plan.splitlines():
        if ") Exchange" in line:
            assert "bytes" not in line, line
