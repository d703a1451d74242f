"""Concurrent-stream throughput harness (TPC-style throughput test).

A single-stream bench measures latency; a cluster serves many users.
This runs the headline query set as N concurrent streams (threads
sharing one SparkSession — Spark schedules their jobs FIFO across the
shared executor pool) and reports the throughput ratio:

    sequential_total / concurrent_wall  ≈ effective parallel speedup

A ratio near N means queries interleave cleanly (no driver-side
serialization, no contended broadcast/cache locks); a ratio near 1
means something serializes the streams. Streams run DISJOINT query
orders (stream i starts at offset i·|Q|/N) so identical stages don't
artificially share scan caches at the same instant.

Both passes run fully WARM: an untimed full pass over the headline
set precedes the sequential reference, so neither measurement pays
codegen/JIT, parquet-footer, or Python-worker startup — without it
the sequential pass runs cold and the speedup is overstated.

Usage: python tools/throughput.py [streams] [out.json] [--fair]
                                  [--profile] [--prepared]
Writes {"streams": N, "sequential_sec": S, "concurrent_sec": C,
        "work_speedup": completed_work_fraction*N*S/C,
        "per_stream_completed": [...], "errors": {...}}.

--prepared switches both passes to the prepared-statement execution
model: each query's DataFrame is constructed ONCE up front and every
(sequential or concurrent) execution re-runs the already-analyzed
plan. This is how a serving deployment runs a fixed query set — the
plan is the artifact, execution is the per-request work — and it
removes the per-query driver-side planning section the --profile
decomposition identified as the 4-stream binding constraint
(round-7: 29% serial planning fraction → Amdahl bound 2.13×;
measured 2.76×). The sequential reference is re-measured under the
same model, so the reported ratio never mixes modes.

--fair runs the concurrent pass under spark.scheduler.mode=FAIR with
one scheduler pool per stream (each thread tags its jobs via the
spark.scheduler.pool local property) — the knob that matters when
FIFO head-of-line blocking is what serializes streams. The report
also records the Spark JVM's measured CPU utilization during the
concurrent pass (delta of /proc/<jvm>/stat utime+stime over wall ×
cores), which attributes any sub-N speedup: utilization near 1.0
means the cores are saturated (scheduling is not the bottleneck);
low utilization with FIFO that FAIR recovers means head-of-line
blocking; low utilization under both points at per-query serial
sections (driver-side planning, Python workers, single-task stages).
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE, OVERRIDES, materialize  # noqa: E402
from elb_log_to_mysql_spark.queries import QUERIES  # noqa: E402
from elb_log_to_mysql_spark.session import build_session  # noqa: E402


def run_stream(
    spark, sf_dir, order, errors, idx, completed=None, pool=None, plans=None,
    retries=None,
):
    done = 0
    try:
        if pool is not None:
            # local properties are inherited per-thread; every job this
            # stream submits lands in its own FAIR pool
            spark.sparkContext.setLocalProperty("spark.scheduler.pool", pool)
        for name in order:

            def run_one():
                if plans is not None:
                    # prepared mode: re-execute the pre-built plan (the
                    # analyzed/optimized QueryExecution is cached on the
                    # DataFrame; only the job runs per execution)
                    materialize(plans[name])
                else:
                    fn = OVERRIDES.get(name, QUERIES[name])
                    materialize(fn(spark, sf_dir))

            try:
                run_one()
            except Exception:  # noqa: BLE001 — one retry per query
                # Local mode runs with spark.task.maxFailures=1, so a
                # transient task failure (e.g. the concurrent-planning
                # race where an interpreted shuffle projection receives
                # a raw Python UDF — THROUGHPUT_r11 known_flake) aborts
                # the job a real cluster's task retry would absorb.
                # One query-level retry models that; retries are
                # COUNTED in the artifact so a systematic failure still
                # shows (it would fail twice and kill the stream).
                if retries is not None:
                    retries[idx] = retries.get(idx, 0) + 1
                run_one()
            done += 1
    except Exception as ex:  # noqa: BLE001 — record, don't kill the run
        errors[idx] = f"{type(ex).__name__}: {ex}"[:200]
    finally:
        if completed is not None:
            completed[idx] = done


def _jvm_cpu_seconds(spark) -> float | None:
    """utime+stime of the local-mode Spark JVM, via /proc."""
    try:
        pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(") ", 1)[1].split()
        # fields[11]/[12] are utime/stime (stat fields 14/15) in ticks
        ticks = int(fields[11]) + int(fields[12])
        return ticks / os.sysconf("SC_CLK_TCK")
    except Exception:  # noqa: BLE001 — attribution is best-effort
        return None


def profile_serial_sections(spark, sf_dir) -> dict:
    """Per-query decomposition of the sequential wall into the two
    driver-serial components the concurrent pass cannot parallelize:

    - plan_sec: building the DataFrame + forcing analysis/
      optimization/physical planning (queryExecution.executedPlan) —
      pure driver work, serialized per SparkSession core loop;
    - exec_sec: running the planned job to completion (materialize).

    The Amdahl read: with serial fraction s = plan_total /
    (plan_total + exec_total), N concurrent streams on one driver are
    bounded by N / (1 + (N-1)·s) even with perfect executor-side
    scaling. Run WARM (callers warm the set first) so plan_sec is
    steady-state analysis cost, not one-time codegen/JIT."""
    rows = {}
    for name in HEADLINE:
        fn = OVERRIDES.get(name, QUERIES[name])
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        df._jdf.queryExecution().executedPlan()
        t_plan = time.perf_counter() - t0
        t0 = time.perf_counter()
        materialize(df)
        t_exec = time.perf_counter() - t0
        rows[name] = {"plan_sec": round(t_plan, 3), "exec_sec": round(t_exec, 3)}
    plan_total = sum(r["plan_sec"] for r in rows.values())
    exec_total = sum(r["exec_sec"] for r in rows.values())
    s = plan_total / (plan_total + exec_total)
    return {
        "plan_total_sec": round(plan_total, 2),
        "exec_total_sec": round(exec_total, 2),
        "serial_fraction_planning": round(s, 3),
        "amdahl_bound_4_streams": round(4 / (1 + 3 * s), 2),
        "amdahl_bound_8_streams": round(8 / (1 + 7 * s), 2),
        "per_query": rows,
    }


def main() -> None:
    argv = [
        a for a in sys.argv[1:] if a not in ("--fair", "--profile", "--prepared")
    ]
    fair = "--fair" in sys.argv[1:]
    profile = "--profile" in sys.argv[1:]
    prepared = "--prepared" in sys.argv[1:]
    n_streams = int(argv[0]) if argv else 4
    out_json = argv[1] if len(argv) > 1 else "THROUGHPUT.json"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    extra = {"spark.scheduler.mode": "FAIR"} if fair else None
    spark = build_session(app_name="throughput", extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")

    # prepared mode: construct every plan once, outside both timed
    # passes (the plan is the serving artifact; execution is the work)
    plans = (
        {
            name: (OVERRIDES.get(name, QUERIES[name]))(spark, sf_dir)
            for name in HEADLINE
        }
        if prepared
        else None
    )

    # full untimed warm pass: EVERY headline query compiles its plan,
    # reads its footers, and forks its Python workers here, so the
    # sequential reference and the concurrent pass are equally warm
    # (a cold sequential pass inflates the speedup)
    warm_errors: dict[int, str] = {}
    run_stream(spark, sf_dir, HEADLINE, warm_errors, 0, plans=plans)

    # sequential reference: one pass over the headline set
    t0 = time.perf_counter()
    seq_errors: dict[int, str] = {}
    run_stream(spark, sf_dir, HEADLINE, seq_errors, 0, plans=plans)
    sequential = time.perf_counter() - t0

    profile_report = (
        profile_serial_sections(spark, sf_dir) if profile else None
    )

    # concurrent: N streams, rotated orders, shared session
    errors: dict[int, str] = {}
    completed: dict[int, int] = {}
    retries: dict[int, int] = {}
    threads = []
    cpu0 = _jvm_cpu_seconds(spark)
    t0 = time.perf_counter()
    for i in range(n_streams):
        off = i * len(HEADLINE) // n_streams
        order = HEADLINE[off:] + HEADLINE[:off]
        t = threading.Thread(
            target=run_stream,
            args=(spark, sf_dir, order, errors, i, completed),
            kwargs={
                "pool": f"stream{i}" if fair else None,
                "plans": plans,
                "retries": retries,
            },
        )
        t.start()
        threads.append(t)
    for t in threads:
        t.join()
    concurrent = time.perf_counter() - t0
    cpu1 = _jvm_cpu_seconds(spark)
    n_cores = spark.sparkContext.defaultParallelism
    jvm_cpu_util = (
        round((cpu1 - cpu0) / (concurrent * n_cores), 3)
        if cpu0 is not None and cpu1 is not None
        else None
    )
    # credit only COMPLETED work: an aborted stream must not inflate
    # the speedup next to its error record
    work_fraction = sum(completed.values()) / (n_streams * len(HEADLINE))

    report = {
        "streams": n_streams,
        "queries_per_stream": len(HEADLINE),
        "sf_dir": sf_dir,
        "scheduler": "FAIR" if fair else "FIFO",
        "execution_model": "prepared" if prepared else "construct-per-run",
        "jvm_cpu_utilization": jvm_cpu_util,
        "sequential_sec": round(sequential, 2),
        "concurrent_sec": round(concurrent, 2),
        # speedup credits only completed work across the N streams
        "work_speedup": round(
            work_fraction * n_streams * sequential / concurrent, 2
        ),
        "per_stream_completed": [completed.get(i, 0) for i in range(n_streams)],
        "per_stream_retries": [retries.get(i, 0) for i in range(n_streams)],
        "errors": {**{f"warm{k}": v for k, v in warm_errors.items()},
                   **{f"seq{k}": v for k, v in seq_errors.items()},
                   **{f"s{k}": v for k, v in errors.items()}},
    }
    if profile_report is not None:
        report["serial_sections"] = profile_report
    with open(out_json, "w") as fh:
        json.dump(report, fh, indent=1)
    print(json.dumps(report))
    spark.stop()


if __name__ == "__main__":
    main()
