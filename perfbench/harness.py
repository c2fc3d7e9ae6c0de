"""Session placement, spans, the closed-loop timer and the result line."""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from contextlib import contextmanager
from pathlib import Path

from tilematrix_spark.session import get_spark

from . import eventlog, procstat

# per-layer metrics: every traced run reports all of them; a layer that a
# workload does not exercise reads 0
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "session.warm_s": ("s", "lower"),
    "session.first_op_s": ("s", "lower"),
    "operators.pip.call_s": ("s", "lower"),
    "operators.pip.run_s": ("s", "lower"),
    "operators.pip.pairs": ("count", "higher"),
    "operators.pip.candidates": ("count", "lower"),
    "operators.pip.hit_ratio": ("ratio", "higher"),
    "operators.pip.python_in_bytes": ("B", "lower"),
    "operators.pip.python_s": ("s", "lower"),
    "operators.assign.run_s": ("s", "lower"),
    "operators.assign.rows": ("count", "higher"),
    "operators.assign.shuffle_bytes": ("B", "lower"),
    "operators.assign.codegen_share": ("ratio", "higher"),
    "operators.knn.call_s": ("s", "lower"),
    "operators.knn.run_s": ("s", "lower"),
    "operators.knn.jobs": ("count", "lower"),
    "operators.knn.shuffle_bytes": ("B", "lower"),
    "raster.compose.run_s": ("s", "lower"),
    "raster.compose.shuffle_bytes": ("B", "lower"),
    "raster.compose.python_in_bytes": ("B", "lower"),
    "raster.compose.task_skew": ("ratio", "lower"),
    "raster.compose.hot_tiles": ("count", "lower"),
    "raster.overview.run_s": ("s", "lower"),
    "raster.overview.shuffle_bytes": ("B", "lower"),
    "incremental.compose.run_s": ("s", "lower"),
    "incremental.propagate.run_s": ("s", "lower"),
    "incremental.dirty_fraction": ("ratio", "lower"),
    "incremental.shuffle_bytes": ("B", "lower"),
    "io.unit_s.median": ("s", "lower"),
    "io.unit_s.max": ("s", "lower"),
    "io.write_s": ("s", "lower"),
    "io.commit_s": ("s", "lower"),
    "io.resume_s": ("s", "lower"),
    "io.files": ("count", "lower"),
    "io.bytes": ("B", "lower"),
    "io.bytes_per_row": ("B/row", "lower"),
    "functions.dedup.simhash.run_s": ("s", "lower"),
    "functions.dedup.simhash.codegen_share": ("ratio", "higher"),
    "functions.dedup.minhash.run_s": ("s", "lower"),
    "functions.dedup.minhash.candidates": ("count", "lower"),
    "functions.dedup.minhash.pairs": ("count", "higher"),
    "functions.dedup.minhash.hit_ratio": ("ratio", "higher"),
    "functions.similarity.ivf_pq.run_s": ("s", "lower"),
    "functions.similarity.ivf_pq.python_in_bytes": ("B", "lower"),
    "functions.similarity.ivf_pq.shuffle_bytes": ("B", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.shuffle_write_bytes": ("B", "lower"),
    "spark.shuffle_write_s": ("s", "lower"),
    "spark.python_in_bytes": ("B", "lower"),
    "spark.python_s": ("s", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.spill_bytes": ("B", "lower"),
    "spark.codegen_share": ("ratio", "higher"),
    "process.peak_rss_mb": ("MB", "lower"),
    "trace.peak_rss_mb": ("MB", "lower"),
    "trace.rows_per_s": ("rows/s", "higher"),
    "trace.overhead_rows_per_s": ("rows/s", "higher"),
}
# peak RSS varies by more than a tenth between seeds, so it is reported
# per layer (process.peak_rss_mb) rather than end to end
END_TO_END = {
    "rows_per_s": "rows/s",
    "setup_s": "s",
    "cpu_s": "s",
}


def cores() -> int:
    return len(os.sched_getaffinity(0))


class Dirs:
    """Everything the benchmark writes lives under ``<checkout>/.bench_build/perfbench``."""

    def __init__(self, root: Path):
        self.base = root / ".bench_build" / "perfbench"
        self.inputs = self.base / "inputs"
        self.work = self.base / "work"
        self.traces = self.base / "traces"
        self.local = self.base / "spark-local"
        self.tmp = self.base / "tmp"
        self.events = self.base / "eventlog"
        for d in (self.inputs, self.work, self.traces, self.local, self.tmp):
            d.mkdir(parents=True, exist_ok=True)


def start_session(dirs: Dirs, event_dir: Path | None = None):
    """``get_spark`` plus placement only: local[nproc], local/tmp dirs
    inside the checkout, a driver heap that fits the host, and the event log
    when tracing.  No tuning settings: the benchmark measures the defaults
    every ``get_spark`` user gets."""
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": str(dirs.local),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs.tmp}",
    }
    if event_dir is not None:
        event_dir.mkdir(parents=True, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_dir.as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark(app_name="perfbench", cores=cores(), extra_conf=conf)


def stop_jvm() -> None:
    """Stop the session's JVM and wait until it and the Python workers it
    started have exited (the JVM quits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while procstat.descendants() and time.monotonic() < deadline:
        time.sleep(0.1)


def noop(df) -> None:
    """Materialize every output column without storing anything."""
    df.write.format("noop").mode("overwrite").save()


class Tracer:
    """Spans at the benchmark's calls into each layer.  Each span sets the
    Spark job group to its name, so the event log folds per layer.  A
    disabled tracer only times nothing and sets nothing."""

    def __init__(self, enabled: bool, run_id: str, spark):
        self.enabled = enabled
        self.run_id = run_id
        self.spark = spark
        self.spans: list = []
        self._stack: list = []

    def _group(self, name: str | None) -> None:
        sc = self.spark.sparkContext
        if name is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(name, name)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "parent": parent, "run": self.run_id,
               "start": time.perf_counter()}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._group(name)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._group(self.spans[self._stack[-1]]["name"] if self._stack else None)

    def durations(self, name: str) -> list:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and "end" in s]

    def per_cycle(self, name: str) -> float:
        """Median over cycles of the summed durations of ``name`` spans."""
        sums: dict = {}
        for s in self.spans:
            if s["name"] == name and "end" in s:
                c = self._cycle_of(s)
                sums[c] = sums.get(c, 0.0) + s["end"] - s["start"]
        return statistics.median(sums.values()) if sums else 0.0

    def _cycle_of(self, s: dict):
        while s["parent"] is not None:
            s = self.spans[s["parent"]]
        return s["id"]


def closed_loop(wl, spark, tracer: Tracer, seconds: float) -> dict:
    """Run the workload's operation cycle back to back (one client; the
    next operation starts when the previous one ends) until ``seconds``
    have passed and at least ``wl.min_cycles`` cycles completed."""
    cycles, ops, failed = [], 0, 0
    steal0, total0 = procstat.host_ticks()
    t_start = time.perf_counter()
    with procstat.PeakRss() as rss:
        while True:
            cpu0, _ = procstat.tree()
            c0 = time.perf_counter()
            try:
                with tracer.span("cycle"):
                    ops += wl.cycle(spark, tracer)
            except Exception as exc:  # an operation failed: count it, stop the loop
                print(f"perfbench: operation failed: {exc!r}", flush=True)
                failed += 1
                ops += 1
                break
            dt = time.perf_counter() - c0
            cycles.append((dt, procstat.tree()[0] - cpu0))
            wl.after_cycle()
            if time.perf_counter() - t_start >= seconds and len(cycles) >= wl.min_cycles:
                break
    steal1, total1 = procstat.host_ticks()
    steal_share = (steal1 - steal0) / max(total1 - total0, 1)
    if not cycles:
        return {"ops": ops, "failed": failed, "rows_per_s": 0.0, "cpu_s": 0.0,
                "peak_rss_mb": rss.peak / 2**20, "cycles": 0}
    return {
        "ops": ops,
        "failed": failed,
        "cycles": len(cycles),
        "rows_per_s": statistics.median(wl.rows / dt for dt, _ in cycles),
        "cpu_s": statistics.median(c for _, c in cycles),
        "peak_rss_mb": rss.peak / 2**20,
        "cycle_s": [round(dt, 4) for dt, _ in cycles],
        "host_steal_share": steal_share,
    }


def _checked(step, spark):
    """Run a warm-up or check step; one that cannot run counts as one
    failed check.  Returns (attempted, failed, seconds)."""
    t0 = time.perf_counter()
    try:
        att, fail = step(spark)
    except Exception as exc:  # the run must still report its result line
        print(f"perfbench: check failed: {exc!r}", flush=True)
        att, fail = 1, 1
    return att, fail, time.perf_counter() - t0


def run(wl, dirs: Dirs, seed: int, seconds: float, trace: bool, t_process: float) -> dict:
    run_id = f"{wl.name}-s{seed}-{os.getpid()}"
    t0 = time.perf_counter()
    wl.stage(dirs, seed)
    staging = time.perf_counter() - t0

    # A traced run logs events from the start, so its untraced loop and its
    # traced loop share one session; the difference between the two is the
    # cost of the spans and job groups.
    event_dir = dirs.events / run_id if trace else None
    if event_dir is not None:
        shutil.rmtree(event_dir, ignore_errors=True)
    s0 = time.perf_counter()
    spark = start_session(dirs, event_dir)
    session_start = time.perf_counter() - s0
    wl.load(spark)
    w_att, w_fail, warm_s = _checked(wl.warm, spark)
    # set-up: one cold sample from process start (interpreter, imports, JVM
    # launch, session, staged-input read, warm-up) to the first timed
    # operation, less the one-time staging of cached inputs
    setup_s = time.perf_counter() - t_process - staging

    loop = closed_loop(wl, spark, Tracer(False, run_id, spark), seconds)
    c_att, c_fail, check_s = _checked(wl.check, spark)
    attempted = loop["ops"] + w_att + c_att
    failed = loop["failed"] + w_fail + c_fail
    detail = {"setup_s": setup_s, "staging_s": staging, "warm_s": warm_s, "loop": loop,
              "check_s": check_s}
    if not trace:
        result = {"rows_per_s": loop["rows_per_s"], "setup_s": setup_s, "cpu_s": loop["cpu_s"]}
    else:
        tracer = Tracer(True, run_id, spark)
        tloop = closed_loop(wl, spark, tracer, seconds)
        attempted += tloop["ops"]
        failed += tloop["failed"]
        extra = wl.trace_extras(spark, tracer)
        spark.stop()
        logs = [p for p in event_dir.iterdir() if not p.name.endswith(".inprogress")]
        folded = eventlog.fold(logs[0])
        shutil.rmtree(event_dir, ignore_errors=True)
        # per cycle of the traced loop; warm-up ("-") and trace_extras
        # ("check...") jobs are left out
        traced = {g for g in folded if g not in ("-", "_tasks") and not g.startswith("check")}
        spark_total = eventlog.layer(
            {k: v / max(tloop["cycles"], 1)
             for k, v in eventlog.totals({g: folded[g] for g in traced}).items()}
        )
        result = dict.fromkeys(PER_LAYER, 0.0)
        result["session.start_s"] = session_start
        result["session.warm_s"] = warm_s
        result["session.first_op_s"] = setup_s
        result.update(wl.layers(tracer, folded, tloop, extra))
        result.update({f"spark.{k}": v for k, v in spark_total.items()})
        result["process.peak_rss_mb"] = loop["peak_rss_mb"]
        result["trace.peak_rss_mb"] = tloop["peak_rss_mb"]
        result["trace.rows_per_s"] = tloop["rows_per_s"]
        result["trace.overhead_rows_per_s"] = tloop["rows_per_s"] - loop["rows_per_s"]
        detail.update({"traced_loop": tloop, "spans": tracer.spans,
                       "groups": {g: m for g, m in folded.items() if g != "_tasks"}})
        (dirs.traces / f"{wl.name}-s{seed}.json").write_text(json.dumps(detail, default=str))
    spark.stop()
    wl.cleanup()
    units = PER_LAYER if trace else END_TO_END
    metrics = {k: {"value": float(v), "unit": units[k][0] if trace else units[k]}
               for k, v in result.items()}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics,
            "detail": detail}
