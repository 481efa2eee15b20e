"""Benchmark entry point.

    python3 perfbench/run.py --workload <tms_ingest|lake_dml|analytics>
        --seed <n> --seconds <s> --trace <0|1>

Run from the checkout root. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
See README.md in this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

import harness
import layers
from analytics import Analytics
from harness import Run, log
from lake_dml import LakeDml
from tms_ingest import TmsIngest
from tracer import Tracer

WORKLOADS = {"tms_ingest": TmsIngest, "lake_dml": LakeDml, "analytics": Analytics}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=tuple(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    why = harness.checkout_ready()
    if why:
        log(why)
        return 2
    sys.path.insert(0, harness.ROOT)  # the engine package and bench.py
    os.environ.setdefault("SPARK_DRIVER_MEM", "4g")
    work = harness.scratch_dir(args.workload)
    run = Run(args.seed, args.seconds, work)
    spark = None
    try:
        c0, t0 = time.process_time(), time.perf_counter()
        spark = harness.start_spark()
        session_wall = time.perf_counter() - t0
        run.spark = spark
        run.jvm = harness.CpuClock(spark.sparkContext._gateway.proc.pid)
        run.setup["session"] = run.jvm.seconds() - c0  # the JVM's whole life so far
        if args.trace:
            run.tracer = Tracer(spark)
            layers.install(run.tracer)
        wl = WORKLOADS[args.workload](run)
        wl.setup()
        run.timed_passes(wl.run_pass, wl.prepare)
        wl.verify()
        table_bytes = sum(harness.dir_bytes(d) for d in wl.table_dirs())
    finally:
        if spark is not None:
            harness.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run is using it
        except OSError:
            pass

    if args.trace:
        traced = [c for _, c, t in run.passes if t]
        untraced = [c for _, c, t in run.passes if not t][1:]  # the first pass still warms up
        overhead = statistics.median(traced) - statistics.median(untraced)
        metrics = layers.report(run.tracer, len(traced), session_wall, overhead)
        run.tracer.dump(os.path.join(harness.OUT_DIR, f"spans-{args.workload}-seed{args.seed}.jsonl"))
    else:
        metrics = run.end_to_end(table_bytes)
    for err in run.errors:
        log(err)
    log(f"setup cpu s {run.setup}; session wall s {session_wall:.3f}; passes (wall s, cpu s, traced) {[(round(w, 3), round(c, 3), t) for w, c, t in run.passes]}")
    log("ops (wall s / cpu s) " + " ".join(f"{o.name}={o.seconds:.3f}/{o.cpu_s:.3f}" for o in run.ops))
    result = {
        "correct": run.failed() == 0,
        "attempted": run.attempted(),
        "failed": run.failed(),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
