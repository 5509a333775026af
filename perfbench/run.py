"""Pipe benchmark: closed-loop small and bulk syncs with a read-back.

Usage (from the repository root)::

    python3 perfbench/run.py --workload incr_sync --seed 1 --seconds 30 --trace 0

Prints human-readable lines on stderr and, as the last line of stdout, one
JSON object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
per-layer ones from a traced run. All scratch state (Spark local dirs,
temp files, pipe instances) lives under ``.perfbench_run/`` in the
working directory and is removed at exit, except the span dump.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: driver memory pinned here: the engine's 16g default exceeds small hosts
DRIVER_MEM = "2g"


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(work: str) -> None:
    """Pin the session config and keep every side file under ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "TZ": "UTC",
    })
    time.tzset()
    import tempfile
    tempfile.tempdir = tmp


def start_spark(work: str):
    from meerschaum_spark.session import get_spark
    tmp = os.path.join(work, "tmp")
    return get_spark("perfbench", extra_confs={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work}",
    })


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its workers) to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    started = time.perf_counter()
    if not os.path.isfile(os.path.join(ROOT, "meerschaum_spark", "__init__.py")):
        print(f"perfbench: no meerschaum_spark package next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS, run
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work_root = os.path.join(os.getcwd(), ".perfbench_run")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    prepare_env(work)
    os.chdir(work)  # derby.log / metastore side files land here

    t0 = time.perf_counter()
    spark = start_spark(work)
    jvm_start_s = time.perf_counter() - t0
    print(f"perfbench: session up in {jvm_start_s:.2f} s "
          f"({t0 - started:.2f} s after start)", file=sys.stderr)
    try:
        wl = WORKLOADS[args.workload](spark, work, args.seed)
        checks, e2e, layers = run(wl, args.seconds, bool(args.trace),
                                  jvm_start_s, started)
    finally:
        t0 = time.perf_counter()
        stop_spark(spark)
        print(f"perfbench: session stopped in {time.perf_counter() - t0:.2f} s",
              file=sys.stderr)
        os.chdir(ROOT)
        for name in os.listdir(work):
            if name != "spans.json":
                path = os.path.join(work, name)
                shutil.rmtree(path, ignore_errors=True) if os.path.isdir(path) \
                    else os.remove(path)
        if not os.listdir(work):
            os.rmdir(work)

    metrics = layers if args.trace else e2e
    for name, (value, unit) in metrics.items():
        print(f"perfbench: {args.workload} {name} = {value:.6g} {unit}", file=sys.stderr)
    print(f"perfbench: {args.workload} attempted={checks.attempted} "
          f"failed={checks.failed} fail_rate={checks.failed / max(1, checks.attempted):.4g} "
          f"wall={time.perf_counter() - started:.1f}s", file=sys.stderr)
    print(json.dumps({
        "correct": checks.correct,
        "attempted": checks.attempted,
        "failed": checks.failed,
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
