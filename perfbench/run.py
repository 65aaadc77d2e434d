"""Benchmark entry point.

    python3 perfbench/run.py --workload doc_pipeline --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Generates the workload's inputs from the
seed under ``.perfbench/`` in the checkout, starts the Spark session in a
fresh JVM ``SETUPS`` times (``setup_s`` is the median), runs whole passes of
the workload until ``--seconds`` have passed, checks the outputs and prints
one JSON object as the last line of standard output.

``--trace 0`` reports the end-to-end metrics with tracing off. ``--trace 1``
wraps the calls the benchmark makes into the package modules with spans,
reads Spark's status stores after the timed window and reports the
per-layer metrics instead; the spans are written to
``.perfbench/traces/<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

import layers
import spans
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "yelp_business_data_pipeline_spark"
# Cold session starts per run; ``setup_s`` is their median. Each one is a
# JVM launch of about 6 s on 4 cores, so two keep a run of either workload
# near a minute.
SETUPS = 2


def log(*parts) -> None:
    print("perfbench:", *parts, file=sys.stderr, flush=True)


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def spark_conf(work: str, trace: bool) -> dict[str, str]:
    """Keep every file Spark and the JVM write inside the work directory.
    A traced run also keeps every job, stage and SQL execution in the
    status stores so the window's counters are complete."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        conf.update(
            {
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
            }
        )
    return conf


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        log(f"no {PACKAGE}/ beside perfbench/ in {ROOT}")
        return 2
    sys.path.insert(0, ROOT)
    # Python workers import the package too; they inherit the environment.
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}")
        return 2
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tracer = spans.Tracer(bool(args.trace))
    wl = workloads.WORKLOADS[args.workload](work, args.seed, tracer)
    spark = None
    try:
        t0 = time.perf_counter()
        inputs = wl.generate()
        log(f"generated inputs in {time.perf_counter() - t0:.1f} s")
        print("inputs", json.dumps(inputs, sort_keys=True), "digest", workloads.tree_digest(work))
        t0 = time.perf_counter()
        spark, starts = set_up(work, tracer)
        log(f"set up in {time.perf_counter() - t0:.1f} s; session starts:", [round(t, 2) for t in starts])
        result = measure(spark, wl, tracer, args)
    finally:
        if spark is not None:
            stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    ops, passes, failures, digests, rss, layer = result
    for name, d in sorted(digests.items()):
        print("digest", name, d)
    for f in failures:
        print("FAILED", f)
    for op in ops:
        if op.error:
            print("ERROR", op.name, op.error)
    failed = min(len(ops), sum(1 for op in ops if op.error) + len(failures))
    if args.trace:
        metrics = layer
        metrics["session.start_s"] = (statistics.median(starts), "s")
        metrics["peak_rss_mb"] = (rss / 2**20, "MB")
        write_trace(tracer, args)
    else:
        metrics = end_to_end(wl, ops, passes, starts)
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": len(ops),
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


def set_up(work: str, tracer):
    """Start the session in a fresh JVM ``SETUPS`` times; keep the last.

    Each start pays what a user's first run pays: the JVM launch and
    ``get_spark`` with the package defaults. Between starts the JVM and
    its Python workers are stopped. There is no warm-up: one-time costs
    such as starting the Python workers and compiling the JVM operators
    land in the first timed pass, as they do for a user."""
    from yelp_business_data_pipeline_spark.session import get_spark

    conf = spark_conf(work, tracer.enabled)
    starts, spark = [], None
    for _ in range(SETUPS):
        if spark is not None:
            stop(spark)
        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench", extra_conf=conf)
        starts.append(time.perf_counter() - t0)
    return spark, starts


def stop(spark) -> None:
    """Stop Spark, close the JVM and wait until it and every process it
    started (the Python workers) have exited. The next ``get_spark``
    launches a new JVM."""
    from pyspark import SparkContext

    started = spans.descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its standard input closes
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 60
    while any(spans.alive(pid) for pid in started) and time.monotonic() < deadline:
        time.sleep(0.1)


def measure(spark, wl, tracer, args):
    """Whole passes until ``args.seconds`` have passed, then the checks."""
    progress = spans.StreamProgress()
    if tracer.enabled:
        layers.install(tracer)
        spark.streams.addListener(spans.streaming_listener(progress))
        mark = spans.SparkWatermark(spark)
    ops_by_pass = []
    with spans.RssSampler() as rss:
        t_start = time.perf_counter()
        while not ops_by_pass or time.perf_counter() - t_start < args.seconds:
            ops_by_pass.append(wl.run_pass(spark))
        t_end = time.perf_counter()
    layer = {}
    if tracer.enabled:
        tracer.unwrap()
        layer = layers.layer_metrics(spark, tracer, ops_by_pass, mark, progress, t_start, t_end)
    t0 = time.perf_counter()
    failures, digests = wl.check(spark)
    log(f"checked outputs in {time.perf_counter() - t0:.1f} s")
    ops = [op for p in ops_by_pass for op in p]
    log("operations:", [(op.name, round(op.seconds, 2)) for op in ops])
    return ops, ops_by_pass, failures, digests, rss.peak, layer


def end_to_end(wl, ops, passes, starts) -> dict:
    walls = [sum(op.seconds for op in p) for p in passes]
    wall = statistics.median(walls)
    return {
        "setup_s": (statistics.median(starts), "s"),
        "wall_s": (wall, "s"),
        "op_p50_s": (statistics.median(op.seconds for op in ops), "s"),
        "records_per_s": (wl.records_per_pass() / wall, "1/s"),
    }


def write_trace(tracer, args) -> None:
    d = os.path.join(ROOT, ".perfbench", "traces")
    os.makedirs(d, exist_ok=True)
    tracer.dump(os.path.join(d, f"{args.workload}-{args.seed}.json"))


if __name__ == "__main__":
    sys.exit(main())
