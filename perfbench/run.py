"""Benchmark entry point.

    python3 perfbench/run.py --workload kernel_interactive --seed 1 \
        --seconds 10 --trace 0

Runs one workload through the public functions of ``cl_data_frame_spark``
from the root of a checkout: set-up (Spark session, seeded input
generation, an untimed warm-up of the ops whose first call costs most),
a timed window of whole cycles,
then output checks. The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
A traced run also writes its spans to ``.perfbench_work/traces/``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "2g"
MODULES = {"kernel_interactive": "wl_kernel", "batch_analytics": "wl_bulk",
           "lake_ingest": "wl_lake"}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(MODULES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(work: str) -> int:
    """Pin the engine to this machine's cores and keep every scratch
    file inside the checkout. Returns the core count."""
    cores = len(os.sched_getaffinity(0))
    local = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_SCRATCH": local,
        "TMPDIR": local,
        # no hsperfdata files under /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={local} -XX:-UsePerfData",
        "TZ": "UTC",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS":
            "--conf spark.ui.showConsoleProgress=false pyspark-shell",
    })
    time.tzset()
    import tempfile
    tempfile.tempdir = local
    return cores


def stop_spark(spark) -> None:
    """Stop the session, then the JVM this process launched, and wait
    for it and every other child process to end."""
    from pyspark import SparkContext
    from harness import _descendants
    gateway = SparkContext._gateway
    kids = [p for p in _descendants(os.getpid()) if p != os.getpid()]
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.time() + 30
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            with open(f"/proc/{pid}/stat", "rb") as f:
                if f.read().rsplit(b")", 1)[1].split()[0] == b"Z":
                    break
            time.sleep(0.05)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "cl_data_frame_spark")):
        print(f"perfbench: no cl_data_frame_spark package under {ROOT}; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cores = configure_env(work)

    import report
    from harness import Run
    mod = importlib.import_module(MODULES[args.workload])
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace),
              work, cores)
    run.rss.start()
    try:
        t0 = time.perf_counter()
        run.start_session()
        wl = mod.Workload(run)
        t1 = time.perf_counter()
        wl.setup()
        t2 = time.perf_counter()
        wl.warm_up()
        run.setup_s = time.perf_counter() - t0
        run.notes["setup_parts_s"] = {"session": round(t1 - t0, 2),
                                      "inputs": round(t2 - t1, 2),
                                      "warm_up": round(run.setup_s - t2 + t0, 2)}
        run.timed_window(wl.cycle)
        if run.traced and hasattr(wl, "after_window"):
            wl.after_window()
        run.run_checks()
        result = report.build(run, wl, mod, base)
    finally:
        run.rss.stop()
        if run.spark is not None:
            stop_spark(run.spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
