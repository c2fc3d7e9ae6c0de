"""Benchmark entry point.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 10 --trace 0

Runs one workload from the checkout root and prints, as its last stdout
line, ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Everything it writes goes under ``.bench_build/perfbench`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path


def process_start() -> float:
    """perf_counter() value at this process's start (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    age = time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")
    return time.perf_counter() - age


def main() -> int:
    t_process = process_start()
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    root = Path(__file__).resolve().parent.parent
    if not (root / "tilematrix_spark").is_dir():
        print(f"perfbench: no tilematrix_spark package under {root}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(root))
    # placement only: workers import the library from this checkout, and
    # temp/local files stay inside it
    base = root / ".bench_build" / "perfbench"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        x for x in (str(root), os.environ.get("PYTHONPATH")) if x
    )
    os.environ["TMPDIR"] = str(base / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(base / "spark-local")

    from perfbench import harness
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        p.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    dirs = harness.Dirs(root)
    try:
        out = harness.run(WORKLOADS[args.workload](), dirs, args.seed, args.seconds,
                          bool(args.trace), t_process)
    finally:
        harness.stop_jvm()
    detail = out.pop("detail")
    loop = detail["loop"]
    print(f"perfbench: {args.workload} seed={args.seed} cycles={loop['cycles']} "
          f"cycle_s={loop.get('cycle_s')} steal={loop.get('host_steal_share', 0):.3f} setup_s={detail['setup_s']:.2f} staging_s={detail['staging_s']:.2f} "
          f"warm_s={detail['warm_s']:.2f} check_s={detail['check_s']:.2f} wall_s={time.perf_counter() - t_process:.1f}",
          flush=True)
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
