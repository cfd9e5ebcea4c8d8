"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload tiles_z12_sparse --seed 0 \\
        --seconds 15 --trace 0

Run from the repository root.  The run:

1. starts a local Spark session on every core (``local[nproc]``) and
   writes the workload's seeded inputs (not timed);
2. runs rounds of set-up and iteration: each round restarts the
   session and opens the inputs (the set-up; ``setup_s`` is the median
   over at least ``SETUP_ROUNDS``).  The first round's iteration warms
   the JVM up; each later round's iteration runs in a fresh session on
   the warm JVM and is timed, until ``--seconds`` of them have run (at
   least ``MIN_TIMED``).  ``iter_s`` is their median.  Both are wall
   times as measured.  Every output is checked;
3. prints ``{"correct", "attempted", "failed", "metrics"}``: with
   ``--trace 0`` the end-to-end metrics, with ``--trace 1`` the
   per-layer metrics of ``BENCHMARK.json``.

A traced run keeps the Spark UI on, and after the rounds runs one
untraced and one traced warm iteration in the last session; the
difference of the two is the tracing overhead.  Every run writes its
full record (run context, each iteration, per-layer figures) and its
spans under ``.perfbench_work/results/``.  The record holds the
machine's single-core MD5 rate before and after the run and after each
iteration; ``compare.py`` uses it to refuse runs taken while the
machine ran at different speeds.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
SETUP_ROUNDS = 5
MIN_TIMED = 1
CALIBRATION_S = 0.15
DRIVER_MEMORY = "4g"


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("bench", "gate"), default="bench",
                   help="input size: 'gate' is the tests' tiny size")
    return p.parse_args(argv)


def spark_env(run_dir: str) -> None:
    """Keep every file Spark writes inside the run directory, and the
    driver on the loopback interface."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_LOCAL_IP"] = "127.0.0.1"
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEMORY)
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--driver-java-options", shlex.quote(f"-Djava.io.tmpdir={tmp}"),
        "--conf", shlex.quote("spark.sql.warehouse.dir="
                              + os.path.join(run_dir, "warehouse")),
        "--conf", "spark.ui.retainedJobs=100000",
        "--conf", "spark.ui.retainedStages=100000",
        "pyspark-shell"])


def stop_jvm(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM has ended."""
    from pyspark import SparkContext
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def start_session(cores: int, ui: bool):
    from gdal2mbtiles_spark.session import get_spark
    return get_spark(cores=cores, app="perfbench",
                     shuffle_partitions=2 * cores, ui=ui)


def run(args, run_dir: str, results: str) -> dict:
    from perfbench import context, layers, workloads
    from perfbench.trace import Tracer, stage_metrics

    cores = context.nproc()
    run_id = f"pb{os.getpid()}"
    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "scale": args.scale, "run_id": run_id,
              "loadavg_before": context.loadavg(),
              "md5_gbps_before": context.md5_gbps()}
    tracer = Tracer(run_id, traced=False)
    wl = workloads.WORKLOADS[args.workload](
        args.workload, args.scale, args.seed,
        os.path.join(run_dir, "data"), cores)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(cores, ui=bool(args.trace))
        record["session_start_s"] = time.perf_counter() - t0
        record["context"] = context.record(
            spark, os.environ["SPARK_GRAFT_DRIVER_MEM"])
        t0 = time.perf_counter()
        wl.prepare(spark)
        record["fixture_s"] = time.perf_counter() - t0

        iterations, setups = [], []

        def iterate(kind: str, traced: bool = False) -> float:
            tracer.traced = traced
            tracer.iteration = len(iterations)
            rss_reset = context.reset_peak_rss()
            with tracer.span("bench", "iteration"):
                ops = wl.iterate(spark, tracer, traced)
            wall = tracer.spans[-1].wall
            rss = context.peak_rss_mb()
            md5 = context.md5_gbps(CALIBRATION_S)
            wl.check(spark, ops)
            iterations.append({
                "index": tracer.iteration, "kind": kind, "traced": traced,
                "wall_s": wall, "md5_gbps": md5,
                "peak_rss_mb": rss, "rss_reset": rss_reset,
                "ops": {op.name: op.value for op in ops},
                "detail": {op.name: op.detail for op in ops if op.detail},
                "errors": [e for op in ops for e in op.errors],
                "attempted": len(ops),
                "failed": sum(1 for op in ops if op.errors)})
            return wall

        # Each round restarts the session and opens the inputs: that is
        # the set-up.  The first round's iteration warms the JVM up; each
        # later one runs in a fresh session on the warm JVM and is timed,
        # at least MIN_TIMED of them and until --seconds of them have run.
        fresh, r = [], 0

        def more() -> bool:
            return len(fresh) < MIN_TIMED or sum(fresh) < args.seconds

        while r < SETUP_ROUNDS or more():
            spark.stop()
            t0 = time.perf_counter()
            spark = start_session(cores, ui=bool(args.trace))
            wl.open(spark)
            setups.append(time.perf_counter() - t0)
            tracer.bind(spark.sparkContext)
            if r == 0:
                iterate("warmup")
            elif more():
                fresh.append(iterate("fresh"))
            r += 1
        record["setup_rounds_s"] = setups
        if args.trace:
            # per-layer figures: a warm untraced and a warm traced
            # iteration in the same session
            iterate("warm")
            iterate("warm", traced=True)
        record["iterations"] = iterations
        groups = {}
        if args.trace:
            groups = stage_metrics(spark.sparkContext.uiWebUrl)
        record["layer_counts"] = wl.counts()
    finally:
        stop_jvm(spark)
    record["loadavg_after"] = context.loadavg()
    record["md5_gbps_after"] = context.md5_gbps()
    # the run's speed state: the median of every calibration it made
    record["md5_gbps"] = statistics.median(
        [record["md5_gbps_before"], record["md5_gbps_after"]]
        + [it["md5_gbps"] for it in record["iterations"]])

    stem = os.path.join(results, f"{time.strftime('%Y%m%d-%H%M%S')}-"
                        f"{args.workload}-s{args.seed}-t{args.trace}-"
                        f"{os.getpid()}")
    tracer.write(stem + ".spans.jsonl")
    record["metrics"] = layers.end_to_end(record)
    record["per_layer"] = layers.per_layer(record, tracer, groups)
    with open(stem + ".json", "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
    return record


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "gdal2mbtiles_spark")):
        print("perfbench: the gdal2mbtiles_spark package is not in "
              f"{ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import layers, workloads
    scales = workloads.CONFIGS.get(args.workload, {})
    if args.scale not in scales:
        print(f"perfbench: no {args.scale!r} scale of workload "
              f"{args.workload!r}; workloads and scales: "
              f"{ {k: sorted(v) for k, v in workloads.CONFIGS.items()} }",
              file=sys.stderr)
        return 2
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    spark_env(run_dir)
    try:
        record = run(args, run_dir, results)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    its = record["iterations"]
    metrics = record["per_layer"] if args.trace else record["metrics"]
    failed = sum(it["failed"] for it in its)
    for it in its:
        for err in it["errors"]:
            print(f"perfbench: check failed: {err}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": sum(it["attempted"] for it in its),
        "failed": failed,
        "metrics": layers.with_units(metrics)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
