"""Benchmark entry point.

    python3 perfbench/run.py --workload cdc_upsert --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``
into ``.perfbench_work/`` (removed at exit); a traced run
(``--trace 1``) also writes its spans and report to
``.perfbench_out/trace-<workload>-<seed>.json``. The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics untraced, the
per-layer metrics traced). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def host_env(work: str) -> None:
    """Size the engine to this host and keep every scratch file inside
    ``work``; must run before the JVM starts."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_mb = int(f.readline().split()[1]) // 1024
    heap_mb = max(512, min(1024, total_mb // 8))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "TZ": "UTC",
    })
    time.tzset()
    import tempfile

    tempfile.tempdir = tmp


def stop_engine(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to exit
    (the JVM ends when its stdin closes)."""
    if spark is None:
        return
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    if gateway.proc is not None:
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import datalake_iceberg_spark  # noqa: F401 — the program under test
        import __spark_entry__  # noqa: F401
    except ImportError as e:
        print(f"perfbench: engine not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench import layers, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    host_env(work)
    tracer = None
    if args.trace:
        from perfbench.tracer import Tracer

        tracer = Tracer()
        layers.install(tracer)
    bench = workloads.Bench(work, args.seed, tracer)
    try:
        res = workloads.WORKLOADS[args.workload](bench, args.seconds)
        if tracer is None:
            metrics = res["e2e"]
        else:
            metrics = layers.metrics(tracer, bench, res)
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.write(
                os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"),
                {"workload": args.workload, "seed": args.seed,
                 "e2e_traced": {k: v[0] for k, v in res["e2e"].items()},
                 "per_layer": {k: v[0] for k, v in metrics.items()}},
            )
    finally:
        if tracer is not None:
            tracer.restore()
        stop_engine(bench.spark)
        shutil.rmtree(work, ignore_errors=True)
    for name, (value, unit) in sorted(metrics.items()):
        print(f"{name:40s} {value:14.6f} {unit}")
    failed = bench.failed + len(bench.check_failures)
    print(json.dumps({
        "correct": not bench.check_failures,
        "attempted": bench.attempted + bench.checks,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
