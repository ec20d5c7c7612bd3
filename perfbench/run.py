#!/usr/bin/env python3
"""femto_spark benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload batch|spark_query|serve \
        --seed N --seconds S --trace 0|1

Run from the repository root. The inputs are generated from the seed
(see inputs.py); the run measures for about S seconds, checks the
program's outputs, and prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones (setup_s,
throughput_per_s, p50_ms); with --trace 1 they are the per-layer ones, and
the spans are written to .bench_out/. Exit code 0 means every
check passed. All files the run writes stay under the repository root
(.bench_work/ is removed at exit).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BASE_DOCS = 3000  # base pages; the delta is a tenth of it


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("batch", "spark_query", "serve"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def spark_env(work: str, cores: int) -> None:
    """Keep every file Spark and its workers write under `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "FEMTO_WAREHOUSE": os.path.join(work, "warehouse"),
        "TMPDIR": tmp,
        # the spark-class launcher JVM, then the driver JVM
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
            "pyspark-shell"
        ),
    })


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit
    (its Python workers exit with it)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway exits on stdin EOF
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse_args(argv)
    t_start = time.time()
    if not os.path.isfile(os.path.join(ROOT, "femto_spark", "__init__.py")):
        print(f"perfbench: no femto_spark package in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    spark_env(work, cores)

    from femto_spark.session import get_spark

    import inputs
    import layers
    import workloads
    from spans import Tracer

    spark = None
    try:
        spark = get_spark("perfbench", master=f"local[{cores}]", shuffle_partitions=cores)
        tracer = Tracer(bool(args.trace), spark)
        ctx = workloads.Ctx(spark, tracer, work, args.seed,
                            inputs.Sizes.for_base(BASE_DOCS), args.seconds)
        res = workloads.WORKLOADS[args.workload](ctx, t_start)
        if args.trace:
            units = dict(layers.PER_LAYER)
            values = layers.per_layer(ctx, cores)
            metrics = {k: {"value": values[k], "unit": units[k]} for k, _ in layers.PER_LAYER}
            out_dir = os.path.join(ROOT, ".bench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
        else:
            metrics = {k: {"value": v, "unit": u}
                       for k, (v, u) in workloads.end_to_end(res).items()}
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    for e in ctx.errors:
        print(f"perfbench: FAILED {e}", file=sys.stderr)
    print(f"perfbench: {args.workload} seed={args.seed} items={res.items} "
          f"timed_s={res.timed_s:.2f} setup_s={res.setup_s:.2f}", file=sys.stderr)
    print("perfbench: median s per call: " + " ".join(
        f"{k}={sorted(v)[len(v) // 2]:.3f}" for k, v in ctx.latencies.items()), file=sys.stderr)
    correct = ctx.failed == 0
    print(json.dumps({"correct": correct, "attempted": ctx.attempted,
                      "failed": ctx.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
