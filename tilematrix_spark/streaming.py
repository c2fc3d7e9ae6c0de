"""Structured Streaming composition of the engine operators.

The reference is a pure batch library (no streaming surface); the engine adds
the standard streaming shape for the tile workload: a stream of point events
→ stateless tile assignment (the same native ``exprs.tile_from_xy``
projection — works unchanged on streams) → watermarked, windowed per-tile
counts, plus exact stream dedup and replay-safe ``foreachBatch`` sinks for
the composed tile table and the IVF-PQ index.  Late data beyond the
watermark is dropped by Spark's state store; checkpointing gives
exactly-once sink semantics.

Usage:
    stream = spark.readStream.schema(schema).parquet(in_dir)
    agg = stream_tile_counts(stream, tp, zoom=5, ts_col="ts",
                             window_duration="10 minutes", watermark="5 minutes")
    (agg.writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .toTable("tile_counts"))
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import exprs
from .grid import PyramidConfig
from .operators import assign


def _hadoop_path_exists(spark, path: str) -> bool:
    """Explicit filesystem existence probe (works for local, HDFS, s3a —
    any Hadoop-registered scheme).  Used instead of try/except around
    ``spark.read.parquet``: a bare except would treat transient IO errors
    or corrupt footers as "table does not exist yet" and silently compose
    against an empty corpus."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(jpath))


def _upsert_buckets(fresh: DataFrame, path: str, n_buckets: int) -> None:
    """Key-replace the (row, col)-keyed rows of ``fresh`` into the parquet
    table at ``path``, partitioned by ``pb = pmod(hash(row, col),
    n_buckets)``: read only the buckets ``fresh`` touches, anti-join its
    keys out of them, union ``fresh`` back, and dynamically overwrite just
    those partitions (the whole table when ``path`` does not exist yet)."""
    spark = fresh.sparkSession
    pb = F.pmod(F.hash("row", "col"), F.lit(n_buckets))
    # materialize ONCE: bucket discovery, the anti-join, and the write all
    # consume this plan — unpinned, upstream Arrow kernels would re-execute
    # per consumer.
    fresh = fresh.withColumn("pb", pb).localCheckpoint(eager=True)
    if _hadoop_path_exists(spark, path):
        buckets = [r["pb"] for r in fresh.select("pb").distinct().collect()]
        keep = (
            spark.read.parquet(path)
            .filter(F.col("pb").isin(buckets))
            .join(fresh.select("row", "col"), ["row", "col"], "left_anti")
        )
        merged = keep.unionByName(fresh)
    else:
        merged = fresh
    # eager barrier: the write below overwrites partitions this plan reads
    merged = merged.localCheckpoint(eager=True)
    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("pb")
        .parquet(path)
    )


def stream_with_tile(
    stream: DataFrame,
    tp: PyramidConfig,
    zoom: exprs.ZoomLike,
    x: str = "lon",
    y: str = "lat",
) -> DataFrame:
    """Stateless point→tile assignment on a streaming DataFrame — identical
    Column expressions as the batch operator (assign.with_tile)."""
    return assign.with_tile(stream, tp, zoom, x, y)


def stream_tile_counts(
    stream: DataFrame,
    tp: PyramidConfig,
    zoom: exprs.ZoomLike,
    ts_col: str = "ts",
    x: str = "lon",
    y: str = "lat",
    window_duration: str = "10 minutes",
    watermark: str = "5 minutes",
) -> DataFrame:
    """Watermarked, windowed per-tile event counts.

    Output: (window struct, row, col, n).  State is bounded by the
    watermark; at 10^12-row scale the state key space is
    windows × populated tiles — partitioned by the same tile key as the
    batch aggregations.
    """
    tiled = stream_with_tile(stream.withWatermark(ts_col, watermark), tp, zoom, x, y)
    return (
        tiled.groupBy(F.window(F.col(ts_col), window_duration), "row", "col")
        .agg(F.count("*").alias("n"))
    )


_DEDUP_OUT = T.StructType(
    [
        T.StructField("fp", T.StringType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("is_new", T.BooleanType()),
    ]
)
_DEDUP_STATE = T.StructType([T.StructField("seen", T.IntegerType())])


def stream_exact_dedup(
    stream: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Custom stateful operator: exact streaming dedup across micro-batches
    via ``applyInPandasWithState``.

    Keyed by the md5 fingerprint of normalized text; GroupState remembers
    whether a fingerprint was already emitted, so only the FIRST arrival of
    each distinct document (smallest id within the batch) survives — the
    streaming counterpart of ``dedup.dedup_exact``.  State size = one int
    per distinct fingerprint; at scale, pair with a TTL timeout for bounded
    state.
    """
    def dedup_fn(key, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        seen = state.get[0] if state.exists else 0
        first_id = None
        for pdf in pdfs:
            if len(pdf) and first_id is None:
                first_id = int(pdf["doc_id"].min())
            elif len(pdf):
                first_id = min(first_id, int(pdf["doc_id"].min()))
        if first_id is None:
            return
        if not seen:
            state.update((1,))
            yield pd.DataFrame({"fp": [key[0]], "doc_id": [first_id], "is_new": [True]})

    from pyspark.sql.streaming.state import GroupStateTimeout

    keyed = stream.select(
        F.md5(
            F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")))
        ).alias("fp"),
        F.col(id_col).cast("long").alias("doc_id"),
    )
    return keyed.groupBy("fp").applyInPandasWithState(
        dedup_fn,
        outputStructType=_DEDUP_OUT,
        stateStructType=_DEDUP_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def incremental_tile_sink(
    tp: PyramidConfig,
    zoom: int,
    corpus_path: str,
    tiles_path: str,
    n_buckets: int = 64,
    **compose_kwargs,
):
    """foreachBatch sink maintaining a composed tile table INCREMENTALLY
    from a stream of image batches: per micro-batch, recompose only the
    tiles the batch dirties (``incremental.incremental_compose``) and
    rewrite only the parquet partitions that hold them.

    Layout: ``tiles_path`` is partitioned by ``pb = pmod(hash(row,col),
    n_buckets)``; the upsert reads ONLY the affected buckets (partition
    pruning), anti-joins the dirty keys, unions the fresh canvases, and
    overwrites those buckets via dynamic partition overwrite — parquet
    upsert with bytes rewritten ∝ dirty buckets, never the whole table.

    Exactly-once discipline (the resume story, same order every batch):

    1. compose the delta against the corpus EXCLUDING this batch_id (the
       union inside incremental_compose supplies the batch exactly once —
       even when a replay finds the batch already appended);
    2. eagerly materialize the delta (localCheckpoint) so the Arrow
       compose kernels run ONCE, then the merged buckets (the merge reads
       the same path it overwrites);
    3. overwrite the dirty buckets;
    4. append the batch to ``corpus_path``, partitioned by batch_id.

    A retry after a crash between 3 and 4 recomputes the SAME delta (the
    corpus still lacks the batch); a retry after 4 but before the stream
    checkpoint commit finds the batch ALREADY in the corpus — the
    batch_id filter in step 1 excludes it, so the recompose is still
    old ∪ batch seen exactly once, and the batch_id partition makes the
    corpus append idempotent too (dynamic overwrite of its own
    partition). Read errors other than path-not-found propagate and fail
    the batch (the checkpoint retries) — they must NOT be mistaken for
    "table does not exist yet".

    Usage::

        q = (stream.writeStream.foreachBatch(
                 incremental_tile_sink(tp, 6, corpus, tiles))
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
    """
    from . import incremental as incr

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if _hadoop_path_exists(spark, corpus_path):
            # Exclude a replayed batch: after a crash between the corpus
            # append and the checkpoint commit, this batch_id is already in
            # the corpus — without the filter it would be blended twice.
            old = (
                spark.read.parquet(corpus_path)
                .filter(F.col("batch_id") != int(batch_id))
                .drop("batch_id")
            )
        else:
            old = spark.createDataFrame([], batch_df.schema)
        delta = incr.incremental_compose(old, batch_df, tp, zoom, **compose_kwargs)
        _upsert_buckets(delta, tiles_path, n_buckets)
        (
            batch_df.withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(corpus_path)
        )

    return process


def incremental_ann_sink(
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """foreachBatch sink keeping a committed IVF-PQ index fresh from a
    stream of new vectors (the serving-side loop: ingested embeddings become
    probe-visible one micro-batch later, Θ(|batch|) per batch, quantizers
    frozen — see ``annstore``).

    Exactly-once without any extra bookkeeping: ``annstore.append_batch``'s
    atomic lineage marker IS the idempotence token.  A replay after a crash
    between the delta commit and the stream checkpoint commit finds the
    batch committed and skips it; a crash before the marker leaves an
    orphan directory that is invisible to ``read_index`` and overwritten on
    replay.  Micro-batch ids live in the ``stream`` namespace so a manual
    backfill (``jobs/ann_update_job.py``, namespace ``batch``) can share
    the index without id collisions.

    Usage::

        q = (stream.writeStream.foreachBatch(incremental_ann_sink(idx))
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
    """
    from . import annstore

    def process(batch_df: DataFrame, batch_id: int) -> None:
        annstore.append_batch(
            batch_df.sparkSession, index_path, batch_df, int(batch_id),
            id_col=id_col, vec_col=vec_col, namespace="stream",
        )

    return process
