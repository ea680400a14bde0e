#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload adhoc_sql --seed 1 --seconds 5 --trace 0

Runs from the root of a checkout. It generates the workload's inputs
from the seed, sets the engine up once (timed from process start), runs
one cold pass, the workload's unmeasured warm-up passes, and then
measured warm passes for `--seconds` (at least the workload's minimum
count), checks every statement's result against
DuckDB, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. With `--trace 0` the
metrics are the end-to-end ones; with `--trace 1` warm passes alternate
between traced and untraced and the metrics are the per-layer ones.
See README.md beside this file.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _prepare_env(work: str, cpus: int) -> None:
    """Keep everything the run writes inside its work directory and let
    the Python workers import the package."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_SUBMIT_OPTS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
        f"-Dderby.system.home={work}")
    os.chdir(work)


def _stop_spark() -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def _terminate(signum, frame):
    sys.exit(128 + signum)      # unwinds through the cleanup below


def main(argv=None) -> int:
    args = _parse(argv)
    signal.signal(signal.SIGTERM, _terminate)
    if not os.path.isdir(os.path.join(ROOT, "incubator_impala_spark")):
        print(f"perfbench: no incubator_impala_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import harness
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    # half the cores for Spark's task threads: the JVM's JIT and GC
    # threads, the Python workers and the driver need the rest, and a
    # run with more runnable threads than cores times the scheduler
    cpus = max(1, min(len(os.sched_getaffinity(0)) // 2, 4))
    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    state = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state, "work", tag)
    out_dir = os.path.join(state, "results")
    os.makedirs(out_dir, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cwd = os.getcwd()
    try:
        _prepare_env(work, cpus)
        run = harness.Run(WORKLOADS[args.workload], seed=args.seed,
                          seconds=args.seconds, trace=bool(args.trace),
                          cpus=cpus, work=work, root=ROOT,
                          t_process=T_START)
        try:
            result = run.execute()
        finally:
            _stop_spark()
        run.write(os.path.join(out_dir, tag))
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"stamp": run.stamp}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
