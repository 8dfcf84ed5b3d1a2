"""One benchmark run. ``perfbench/run.py`` starts this module in a child
process with the variance sources pinned; run that, not this.

A run sets up the workload once with a fresh JVM and then ``RESTARTS``
times more, each time restarting the SparkContext inside that JVM, and
reports the median restart set-up (the first set-up's JVM launch is
``session.start_s``). It then runs the workload's warm-up and output
checks, then the fixed measured work. With ``--trace 1`` the measured
work runs under the tracer and the per-layer metrics are printed
instead of the end-to-end ones. A layer a workload does not reach reads 0.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
import time

from perfbench import lakehouse, star_batch
from perfbench.harness import (
    Tracer,
    job_launch_ms,
    median,
    peak_rss_mb,
    sf_dir,
    start_session,
)

WORKLOADS = {
    "star_batch": star_batch.StarBatch,
    "lakehouse": lakehouse.Lakehouse,
}
# A restart set-up takes about 1 s and its time still falls over the
# first restarts as the JVM warms; the median of five holds steadier
# than that of three.
RESTARTS = 5

END_TO_END = {"setup_s": "s", "peak_rss_mb": "MB", "wall_s": "s", "op_geomean_ms": "ms"}
PER_LAYER = dict(
    (
        ("session.start_s", "s"),
        ("session.job_launch_ms", "ms"),
        ("sources.infer_jobs", "count"),
        ("tasks.failed", "count"),
        ("trace.wall_s", "s"),
        ("trace.overhead_s", "s"),
    )
    + star_batch.LAYER_NAMES
    + lakehouse.LAYER_NAMES
)


def run(workload: str, seed: int, seconds: int, trace: bool, run_dir: str) -> dict:
    wl = WORKLOADS[workload](sf_dir(), seed, seconds, run_dir)
    setup, session_start, spark = [], 0.0, None
    for rep in range(1 + RESTARTS):
        if spark is not None:
            wl.teardown()
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session(run_dir)
        if rep == 0:
            session_start = time.perf_counter() - t0
        wl.setup(spark, rep)
        setup.append(time.perf_counter() - t0)

    t_check = time.perf_counter()
    attempted, failed = wl.check()
    t_measure = time.perf_counter()
    tracer = Tracer(spark) if trace else None
    if tracer:
        from pyspark.sql.readwriter import DataFrameReader

        # footer inference: the job(s) spark.read.parquet runs to learn
        # the schema, wherever in the package it is called
        tracer.wrap(DataFrameReader, "parquet", "sources.infer")
    try:
        result = wl.measure(tracer)
    finally:
        if tracer:
            tracer.unwrap()
    print(
        f"perfbench: setup {[round(x, 3) for x in setup]} "
        f"check {t_measure - t_check:.2f}s wall_s {result['wall_s']:.2f}s "
        f"trajectory {[round(x, 2) for x in wl.trajectory]} "
        f"ops {[round(x, 3) for x in result['op_s']]}",
        file=sys.stderr,
    )
    attempted += result["attempted"]
    failed += result["failed"]

    if trace:
        values = dict.fromkeys(PER_LAYER, 0.0)
        values.update(wl.layers(tracer, result))
        values["session.start_s"] = session_start
        values["session.job_launch_ms"] = job_launch_ms(spark)
        values["tasks.failed"] = tracer.total(tracer.spans, "failed_tasks")
        values["trace.wall_s"] = result["wall_s"]
        values["trace.overhead_s"] = tracer.overhead_s
        units = PER_LAYER
    else:
        values = {
            "setup_s": median(setup[1:]),
            "peak_rss_mb": peak_rss_mb(spark),
            "wall_s": result["wall_s"],
            # geometric mean, as TPC-H summarizes unlike queries: a median
            # of a few unlike operations jumps when two of them swap ranks
            "op_geomean_ms": statistics.geometric_mean(result["op_s"]) * 1000.0,
        }
        units = END_TO_END
    wl.teardown()
    spark.stop()
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--run-dir", required=True)
    args = ap.parse_args(argv)
    out = run(args.workload, args.seed, args.seconds, bool(args.trace), args.run_dir)
    print(json.dumps(out), flush=True)
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
