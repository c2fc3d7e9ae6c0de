"""Committed IVFADC index store: lineage-gated reads + incremental appends.

The index layout is what ``jobs/ann_index_job.py`` builds — integer coarse
centroids, residual PQ codebooks and residual codes, committed as
``stage=centroids`` / ``stage=codebooks`` / ``stage=index`` tables under one
root — plus any number of ``delta=<namespace>_<id>`` directories appended
here.  The ANN mirror of incremental pyramid maintenance (incremental.py):
the full-corpus encode happened ONCE at build time; each append costs
Θ(|batch|) — one cell assignment + one PQ encode over the new rows, never a
re-encode of the committed corpus.  The coarse and product quantizers are
read from the committed stages and NEVER retrained on append (the standard
IVF discipline: retraining would silently re-map committed codes; quantizer
drift is a monitored rebuild trigger, not an append-path side effect).

Crash/replay discipline (same as streaming.incremental_tile_sink): each
batch writes to its own delta directory (internally partitioned by
``_cell`` like the base index, so probe reads stay layout-pruned) and is
committed by an atomic lineage marker AFTER the write.  ``read_index``
unions the base with committed deltas ONLY — a crash between write and
commit leaves an orphan directory that is invisible to probes and simply
overwritten on replay; a committed batch is skipped on replay.  Both replay
paths are idempotent and exactly-once at the output level, which is exactly
the idempotence token Structured Streaming's foreachBatch needs
(streaming.incremental_ann_sink).

``compact`` folds committed deltas into a single cell-partitioned
generation (the LSM discipline: appends bound per-batch cost, compactions
bound the small-file/union fan probes pay), with the same
write-then-commit crash safety.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .functions import similarity as sim
from .io import Lineage, LineageRecord, TableIO


def _latest_compact(done: dict):
    """(unit, record) of the newest committed compaction, or (None, None)."""
    best = None
    for unit, rec in done.items():
        if unit.startswith("compact="):
            gen = int(unit.split("=", 1)[1])
            if best is None or gen > best[0]:
                best = (gen, unit, rec)
    return (best[1], best[2]) if best else (None, None)


def _index_from_snapshot(spark: SparkSession, index_path: str, done: dict) -> DataFrame:
    """Probe-visible index as of ONE lineage listing ``done``: the newest
    committed compaction (or the base ``stage=index`` if none) ∪ every
    delta in ``done`` the compaction hasn't absorbed.  Taking the listing
    as an argument lets ``compact`` build the generation it writes and the
    ``absorbed`` set it records from the same snapshot — a delta committed
    by a concurrent appender after the snapshot is neither folded in nor
    marked absorbed, so it keeps serving exactly once."""
    io = TableIO(spark)
    compact_unit, compact_rec = _latest_compact(done)
    if compact_unit:
        df = io.read(os.path.join(index_path, compact_unit))
        absorbed = set(compact_rec["config"]["absorbed"])
    else:
        df = io.read(os.path.join(index_path, "stage=index"))
        absorbed = set()
    for unit in sorted(done):
        if unit.startswith("delta=") and unit not in absorbed:
            df = df.unionByName(io.read(os.path.join(index_path, unit)))
    return df


def read_index(spark: SparkSession, index_path: str) -> DataFrame:
    """The probe-visible index: the newest committed compaction (or the
    base ``stage=index`` if none) ∪ every COMMITTED ``delta=*`` the
    compaction hasn't absorbed.  Lineage-gated throughout — orphan
    directories from a crash between write and commit are excluded, never
    half-read."""
    return _index_from_snapshot(spark, index_path, Lineage(index_path).committed())


def compact(spark: SparkSession, index_path: str) -> dict:
    """Fold the committed deltas into one cell-partitioned generation —
    the LSM half of the maintenance lifecycle (append bounds per-batch
    cost; compaction bounds the small-file/union fan that probes pay).

    Writes the CURRENT probe-visible index to ``compact=<gen>`` and
    commits a marker whose config records exactly which delta units it
    absorbed; ``read_index`` then serves the newest compaction plus only
    deltas committed AFTER it.  Crash-safe like append: a crash before the
    marker leaves an invisible orphan generation; replaying produces the
    next generation with the same content.  Old generations/deltas become
    garbage (never read) — physical deletion is a storage-side janitor
    concern, not a correctness one."""
    done = Lineage(index_path).committed()
    prev_unit, prev_rec = _latest_compact(done)
    gen = (int(prev_unit.split("=", 1)[1]) + 1) if prev_unit else 1
    prev_absorbed = set(prev_rec["config"]["absorbed"]) if prev_rec else set()
    absorbing = sorted(
        u for u in done if u.startswith("delta=") and u not in prev_absorbed
    )
    if not absorbing:
        return {"unit": prev_unit, "skipped": True, "absorbed": 0}
    unit = f"compact={gen}"
    t0 = time.time()
    rows = TableIO(spark).write_counted(
        _index_from_snapshot(spark, index_path, done),
        os.path.join(index_path, unit),
        partition_by=["_cell"],
    )
    wall = round(time.time() - t0, 3)
    Lineage(index_path).commit(
        LineageRecord(
            unit=unit,
            rows=rows,
            wall_s=wall,
            committed_at=time.time(),
            config={"absorbed": sorted(prev_absorbed | set(absorbing)),
                    "generation": gen},
        )
    )
    return {"unit": unit, "rows": rows, "wall_s": wall,
            "skipped": False, "absorbed": len(absorbing)}


def gc(spark: SparkSession, index_path: str, grace_s: float = 3600.0) -> dict:
    """Physically delete units the lineage proves unreadable: deltas
    absorbed by the newest committed compaction, and compaction
    generations older than the newest.  ``read_index`` never touches
    either, so deletion cannot change probe results — the only hazard is
    a reader that listed lineage BEFORE the newest compaction committed
    and is still scanning the old units, which the grace period covers:
    nothing is deleted until the newest compaction is at least
    ``grace_s`` old (bound it by your longest probe job).  Orphan
    directories (no marker) are never touched — they may be an in-flight
    writer's.

    Only the DATA directories are deleted; lineage markers stay.  A
    delta's marker is the exactly-once replay token — deleting it would
    make a replayed batch re-append rows that already live inside the
    compaction (duplicates).  Markers are O(100 bytes) each; the
    compaction's ``absorbed`` list plus the surviving markers remain the
    audit trail."""
    done = Lineage(index_path).committed()
    compact_unit, compact_rec = _latest_compact(done)
    if not compact_unit:
        return {"deleted": [], "skipped": "no compaction"}
    age = time.time() - compact_rec["committed_at"]
    if age < grace_s:
        return {"deleted": [], "skipped": f"grace ({age:.0f}s < {grace_s:.0f}s)"}
    absorbed = set(compact_rec["config"]["absorbed"])
    victims = [
        u for u in done
        if (u.startswith("delta=") and u in absorbed)
        or (u.startswith("compact=") and u != compact_unit)
    ]
    deleted = []
    for unit in sorted(victims):
        path = os.path.join(index_path, unit)
        if os.path.isdir(path):
            shutil.rmtree(path)
            deleted.append(unit)
    return {"deleted": deleted, "kept": compact_unit}


def _mean_centroid_sim(
    spark: SparkSession, df: DataFrame, cents, vec_col: str
) -> float:
    """Mean cosine similarity of vectors to their best-matching centroid
    — the quantizer-fit statistic.  One Arrow kernel + one aggregate over
    Θ(|df|) rows.  Both sides unit-normalized, so the value is a true
    cosine although the centroids are integer-quantized."""
    cq = np.asarray(cents, dtype=np.float64)
    cq = cq / np.maximum(np.linalg.norm(cq, axis=1, keepdims=True), 1e-12)

    @F.pandas_udf(T.DoubleType())
    def best_sim(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy()).astype(np.float64)
        mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        return pd.Series((mat @ cq.T).max(axis=1))

    row = df.select(F.avg(best_sim(F.col(vec_col))).alias("s")).collect()[0]
    return float(row["s"] or 0.0)


def append_batch(
    spark: SparkSession,
    index_path: str,
    updates: DataFrame,
    batch_id: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    namespace: str = "batch",
) -> dict:
    """Encode ``updates`` with the index's frozen quantizers and commit it
    as ``delta=<namespace>_<batch_id>``.  Idempotent: an already-committed
    batch is skipped (skipped=True); an uncommitted leftover from a crash
    is overwritten before the marker lands.  ``namespace`` separates writer
    lineages whose ids would otherwise collide (e.g. a manual backfill and
    a stream both counting from 0).

    Quantizer DRIFT is monitored per batch: the batch's mean cosine
    similarity to its assigned centroid is recorded in the delta's
    lineage config next to the baseline (the earliest recorded batch —
    the distribution the frozen quantizer was judged good for) and their
    ratio.  A ratio persistently below ~0.9 means new vectors no longer
    fit the frozen cells (recall decays at fixed nprobe) — that is the
    REBUILD trigger: retrain + full re-encode via jobs/ann_index_job.py,
    never a silent retrain on the append path."""
    lineage = Lineage(index_path)
    unit = f"delta={namespace}_{batch_id}"
    done = lineage.committed()
    if unit in done:
        return {"unit": unit, "rows": done[unit]["rows"], "skipped": True}
    io = TableIO(spark)
    cents_df = io.read(os.path.join(index_path, "stage=centroids"))
    cent_type = cents_df.schema["centroid"].dataType
    if not (isinstance(cent_type, T.ArrayType)
            and isinstance(cent_type.elementType, T.LongType)):
        # a float-centroid (raw-code) index: truncating its unit-norm
        # centroids to integers would encode every new row against zeros
        raise ValueError(
            f"{index_path}: stage=centroids is {cent_type.simpleString()}, "
            "expected array<long> (integer IVFADC quantizer); rebuild the "
            "index with jobs/ann_index_job.py"
        )
    cents_q = sim.int_centroids_from_rows(cents_df)
    books = sim.codebooks_from_rows(io.read(os.path.join(index_path, "stage=codebooks")))
    t0 = time.time()
    slim = updates.select(F.col(id_col), F.col(vec_col).alias("_cv"))
    mean_sim = round(_mean_centroid_sim(spark, slim, cents_q, "_cv"), 6)
    baseline = mean_sim
    for rec in sorted(done.values(), key=lambda r: r["committed_at"]):
        drift = rec["config"].get("drift")
        if drift:
            baseline = drift["baseline_sim"]
            break
    encoded = sim.with_ivf_pq_residual(slim, books, cents_q, "_cv")
    rows = io.write_counted(
        encoded, os.path.join(index_path, unit), partition_by=["_cell"]
    )
    wall = round(time.time() - t0, 3)
    drift = {
        "mean_sim": mean_sim,
        "baseline_sim": baseline,
        "ratio": round(mean_sim / baseline, 4) if baseline else None,
    }
    lineage.commit(
        LineageRecord(
            unit=unit,
            rows=rows,
            wall_s=wall,
            committed_at=time.time(),
            config={"batch_id": int(batch_id), "namespace": namespace,
                    "frozen_quantizers": True, "drift": drift},
        )
    )
    return {"unit": unit, "rows": rows, "wall_s": wall, "skipped": False,
            "drift": drift}
