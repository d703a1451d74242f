#!/usr/bin/env python3
"""Benchmark entry point: one workload, one process, one JSON line.

    python3 perfbench/run.py --workload alb_backfill --seed 1 --seconds 12 --trace 0

Run from the repository root. The last line of standard output is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every end-to-end metric (``--trace 0``) or every per-layer metric
(``--trace 1``), each as ``{"value": ..., "unit": ...}``. Progress,
input statistics, samples and errors go to standard error. The exit
code is 0 only when every operation succeeded and every correctness
check passed; a failed run reports its timing metrics as null.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

T0 = time.perf_counter()  # process start, as near as Python gets
PACKAGE = "elb_log_to_mysql_spark"
HEAP = "3g"
ROOT = os.getcwd()

END_TO_END_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "rows_per_s": "1/s",
}


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks since boot; steal is time the host gave
    this machine's CPUs to others. (0, 0) where /proc/stat is missing."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return 0, 0
    return ticks[7], sum(ticks)


TICKS0 = _cpu_ticks()


def _cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # not Linux
        return os.cpu_count() or 1


def _prepare_env(run_dir: str, cpus: int) -> None:
    """Process environment the JVM and its Python workers inherit. Must
    be set before the first session starts the JVM."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    pypath = os.environ.get("PYTHONPATH")
    os.environ.update({
        # left unset, the package runs local[32] whatever the core count
        "SPARK_GRAFT_CPUS": str(cpus),
        # Python workers import the package from the checkout too
        "PYTHONPATH": ROOT + (os.pathsep + pypath if pypath else ""),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(run_dir, "warehouse"),
        "SPARK_DRIVER_MEMORY": HEAP,
        "TMPDIR": tmp,
        # the launcher JVM that spark-submit runs first
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "TZ": "UTC",
    })
    tempfile.tempdir = tmp
    time.tzset()


def _stop_jvm() -> None:
    """Stop the JVM the session started and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ in {ROOT}; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.alb import alb_backfill
    from perfbench.corpus import corpus_dedup
    from perfbench.harness import Run, log
    from perfbench.trace import PER_LAYER

    workloads = {"alb_backfill": alb_backfill, "corpus_dedup": corpus_dedup}
    if args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads)}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(base, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    cpus = _cpus()
    _prepare_env(run_dir, cpus)
    run = Run(run_dir=run_dir, seed=args.seed, seconds=args.seconds,
              trace=bool(args.trace), cpus=cpus, phase_t0=T0)
    # a terminated run still stops the JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    metrics: dict = {}
    try:
        metrics = workloads[args.workload](run)
    except Exception as ex:  # noqa: BLE001 — recorded; the run fails
        run.record_failure(f"{args.workload} run", ex)
    finally:
        try:
            try:
                run.stop_session()
            finally:
                _stop_jvm()
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
    run.phase("teardown")
    steal, total = (b - a for a, b in zip(TICKS0, _cpu_ticks()))
    run.info["cpu_steal_share"] = round(steal / total, 4) if total else None
    ok = run.correct
    units = PER_LAYER if args.trace else END_TO_END_UNITS
    out = {
        name: {"value": (metrics.get(name) if ok else None), "unit": unit}
        for name, unit in units.items()
    }
    log(json.dumps({
        "workload": args.workload, "seed": args.seed, "cpus": cpus,
        "elapsed_s": round(time.perf_counter() - T0, 2),
        "phases_s": {k: round(v, 2) for k, v in run.phases.items()},
        "info": run.info, "errors": run.errors,
        "failed_checks": [c for c in run.checks if not c["ok"]],
        "checks": len(run.checks),
    }))
    print(json.dumps({
        "correct": ok, "attempted": max(run.attempted, 1),
        "failed": run.failed, "metrics": out,
    }))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
