"""Storage + checkpointed, resumable job execution.

North-rule requirements: jobs "checkpoint per-partition progress … with
lineage + row-count/latency metrics, and resume idempotently mid-pyramid at
any zoom level".

``TableIO`` is a thin seam over the table format: Iceberg on a real cluster
(``format="iceberg"`` when the runtime jar is present), Parquet +
atomic-rename commit markers in this sandbox — same layout, same lineage
records either way.

``PyramidJob`` runs a per-zoom pipeline over the pyramid: each zoom level is
one unit of work whose output is written to ``out/zoom=Z/`` and whose
completion is committed by atomically renaming a lineage marker containing
row counts and wall-clock metrics.  Restart skips committed zooms (an
anti-join of the plan against the lineage), making the job idempotent: a
crashed run resumes mid-pyramid.
"""

from __future__ import annotations

import json
import os
import tempfile
import time
from dataclasses import dataclass
from typing import Callable, Dict, List, Optional

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import types as T

from .grid import PyramidConfig


class TableIO:
    """Format seam: parquet now, iceberg when the runtime has the jar."""

    def __init__(self, spark: SparkSession, fmt: str = "parquet"):
        if fmt not in ("parquet", "iceberg"):
            raise ValueError("format must be parquet or iceberg")
        self.spark = spark
        self.fmt = fmt

    def write(self, df: DataFrame, path: str, mode: str = "overwrite",
              partition_by: Optional[List[str]] = None) -> None:
        writer = df.write.mode(mode)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.format(self.fmt).save(path)

    def read(self, path: str, schema: Optional[str] = None) -> DataFrame:
        """``schema`` (a ``StructType`` JSON string) skips parquet's footer
        inference, a Spark job per read; iceberg tables carry their own."""
        reader = self.spark.read.format(self.fmt)
        if schema and self.fmt == "parquet":
            reader = reader.schema(T.StructType.fromJson(json.loads(schema)))
        return reader.load(path)

    def write_counted(self, df: DataFrame, path: str, mode: str = "overwrite",
                      partition_by: Optional[List[str]] = None) -> int:
        """Write and return the row count observed DURING the write action
        (``df.observe``) — one scan total, vs read-back-and-count's two.
        At 100 TB outputs the saved re-scan is the whole point."""
        from pyspark.sql import functions as F

        obs = Observation()
        self.write(df.observe(obs, F.count(F.lit(1)).alias("rows")), path,
                   mode=mode, partition_by=partition_by)
        return int(obs.get["rows"])


@dataclass
class LineageRecord:
    unit: str
    rows: int
    wall_s: float
    committed_at: float
    config: Dict
    #: the unit's ``DataFrame.schema.json()``, so a read-back infers nothing;
    #: None in markers written before it was recorded (those reads infer)
    schema: Optional[str] = None

    def to_json(self) -> str:
        return json.dumps(self.__dict__, sort_keys=True)


class Lineage:
    """Per-unit commit markers, written atomically (tmp + rename)."""

    def __init__(self, root: str):
        self.dir = os.path.join(root, "_lineage")
        os.makedirs(self.dir, exist_ok=True)

    def committed(self) -> Dict[str, dict]:
        out = {}
        for name in os.listdir(self.dir):
            if name.endswith(".json"):
                with open(os.path.join(self.dir, name)) as f:
                    rec = json.load(f)
                out[rec["unit"]] = rec
        return out

    def commit(self, rec: LineageRecord) -> None:
        fd, tmp = tempfile.mkstemp(dir=self.dir, suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            f.write(rec.to_json())
        # unit strings may contain path separators (zoom=3/band=0): flatten
        # for the marker filename; committed() keys on the JSON's unit field
        safe = rec.unit.replace(os.sep, "__")
        os.rename(tmp, os.path.join(self.dir, f"{safe}.json"))


class StageJob:
    """Resumable multi-STAGE pipeline — the general (non-pyramid) form of
    ``PyramidJob`` for chains like dedup: pairs → clusters → survivors.

    ``stages`` is an ordered list of ``(name, build)`` where ``build(spark,
    read_stage) -> DataFrame`` may read any earlier stage's committed output
    via ``read_stage(name)``.  Each stage writes to ``{out}/stage={name}``
    and commits a lineage marker with row count + wall time; a crashed run
    resumes at the first uncommitted stage and never recomputes committed
    ones (their outputs are read back from storage, so the resume is
    idempotent even when the upstream input changed in the meantime).
    """

    def __init__(
        self,
        spark: SparkSession,
        out_path: str,
        stages: List,
        io: Optional[TableIO] = None,
        config: Optional[Dict] = None,
    ):
        self.spark = spark
        self.out = out_path
        self.stages = stages
        self.io = io or TableIO(spark)
        self.lineage = Lineage(out_path)
        self.config = config or {}

    def read_stage(self, name: str) -> DataFrame:
        unit = f"stage={name}"
        schema = self.lineage.committed().get(unit, {}).get("schema")
        return self.io.read(os.path.join(self.out, unit), schema)

    def run(self) -> List[str]:
        done = self.lineage.committed()
        executed = []
        for stage in self.stages:
            # (name, build) or (name, build, partition_by) — partitioned
            # stages get layout-pruned reads downstream (e.g. an ANN index
            # partitioned by cell bucket: probes scan only matching cells)
            name, build = stage[0], stage[1]
            partition_by = stage[2] if len(stage) > 2 else None
            unit = f"stage={name}"
            if unit in done:
                continue
            t0 = time.time()
            df = build(self.spark, self.read_stage)
            path = os.path.join(self.out, unit)
            rows = self.io.write_counted(df, path, partition_by=partition_by)
            self.lineage.commit(
                LineageRecord(
                    unit=unit,
                    rows=rows,
                    wall_s=round(time.time() - t0, 3),
                    committed_at=time.time(),
                    config=self.config,
                    schema=df.schema.json(),
                )
            )
            executed.append(name)
        return executed

    def metrics(self) -> Dict[str, dict]:
        return self.lineage.committed()


class PyramidJob:
    """Resumable per-zoom / per-band pipeline runner.

    ``build``: (spark, zoom) -> DataFrame for that zoom level.  Each zoom's
    output goes to ``{out}/zoom={z}/`` and is committed to lineage with
    metrics.  ``run`` returns the units actually executed (committed units
    are skipped — idempotent resume).

    With ``bands > 1`` each zoom is split into ``bands`` independently
    committed units ``zoom={z}/band={i}`` — hash-banded on ``band_col`` —
    so a crashed run resumes MID-ZOOM, not just at zoom granularity
    (north_rule: "checkpoint per-partition progress … resume idempotently
    mid-pyramid").  The trade: each band re-derives the zoom plan (input
    re-scan per band); pick bands ≈ desired restart granularity, not the
    cluster partition count.
    """

    def __init__(
        self,
        spark: SparkSession,
        tp: PyramidConfig,
        out_path: str,
        build: Callable[[SparkSession, int], DataFrame],
        io: Optional[TableIO] = None,
        bands: int = 1,
        band_col: Optional[str] = None,
    ):
        if bands > 1 and not band_col:
            raise ValueError("bands > 1 requires band_col")
        self.spark = spark
        self.tp = tp
        self.out = out_path
        self.build = build
        self.io = io or TableIO(spark)
        self.lineage = Lineage(out_path)
        self.bands = bands
        self.band_col = band_col

    def _units(self, z: int):
        if self.bands <= 1:
            return [(f"zoom={z}", None)]
        return [(f"zoom={z}" + os.sep + f"band={i}", i) for i in range(self.bands)]

    def run(self, zooms: List[int]) -> List:
        """Returns executed zoom ints (bands=1) or unit strings (banded)."""
        from pyspark.sql import functions as F

        done = self.lineage.committed()
        executed = []
        for z in zooms:
            df_z = None
            for unit, band in self._units(z):
                if unit in done:
                    continue
                t0 = time.time()
                if df_z is None:
                    df_z = self.build(self.spark, z)
                df = df_z
                if band is not None:
                    df = df.filter(
                        F.pmod(F.hash(F.col(self.band_col)), F.lit(self.bands)) == band
                    )
                path = os.path.join(self.out, unit)
                rows = self.io.write_counted(df, path)
                self.lineage.commit(
                    LineageRecord(
                        unit=unit,
                        rows=rows,
                        wall_s=round(time.time() - t0, 3),
                        committed_at=time.time(),
                        config=self.tp.to_dict(),
                        schema=df.schema.json(),
                    )
                )
                executed.append(z if band is None else unit)
        return executed

    def read_zoom(self, z: int) -> DataFrame:
        # every unit of a zoom (each band) commits the same schema
        unit = f"zoom={z}"
        schema = next(
            (r.get("schema") for u, r in self.lineage.committed().items()
             if u == unit or u.startswith(unit + os.sep)),
            None,
        )
        df = self.io.read(os.path.join(self.out, unit), schema)
        # banded layout: band=i subdirs surface as a partition column
        return df.drop("band") if "band" in df.columns else df

    def metrics(self) -> Dict[str, dict]:
        return self.lineage.committed()
