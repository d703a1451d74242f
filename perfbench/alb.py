"""The alb_backfill workload: the reference's batch job.

A pass is the `main.run_etl` call chain — `sources.alb.read_alb_logs`
then `sinks.jdbc.write_jdbc_idempotent` — over `BACKFILL_FILES` seeded
gzip files, into an embedded Derby database on disk (a fresh one per
session). Every pass after the first re-ingests the same files, so it
runs the lineage-scoped DELETE and the append. The landed table is
checked against the generator's ground truth outside the timed walls:
the row count after every pass (idempotence), and at the end the
per-status counts, byte sums and the full table fingerprint, UA
families included.
"""

from __future__ import annotations

import time
from statistics import median

from perfbench import gen_alb
from perfbench.harness import DERBY_DRIVER, Run, WrongResult, log, materialize, timed_loop
from perfbench.stats import fingerprint

BACKFILL_FILES = 16
# 32k lines, not the 400k of a full day: a pass then takes ~3.5 s on
# 4 cores, so three timed passes and two warm-up passes fit a ~45 s run
BACKFILL_LINES = 2_000
# the first creates the table. A third did not narrow the spread of
# wall_s over ten seeds on a 4-vCPU host (0.25 with three, 0.21 with
# two), where host CPU steal, not the JIT, set the spread
WARM_PASSES = 2
MIN_PASSES = 3
PROBES = 2  # parse-only repetitions in a traced run

TABLE = "elb_log_data"


def derby_url(run: Run, name: str) -> str:
    return f"jdbc:derby:{run.path('derby', name)};create=true"


def _read_back(spark, url: str):
    return (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", TABLE)
        .option("driver", DERBY_DRIVER)
        .load()
    )


def check_table(run: Run, url: str, truth: gen_alb.AlbTruth) -> None:
    """Row count, per-status counts and byte sums, and the full table
    fingerprint (UA families included) against the generator."""
    from pyspark.sql import functions as F

    rows = _read_back(run.spark, url).select(
        F.date_format("log_timestamp", "yyyy-MM-dd HH:mm:ss.SSSSSS"),
        "client_ip", "http_method", "requested_path",
        "elb_status_code", "backend_status_code",
        F.format_string("%.1f", "total_processing_time_ms"),
        "received_bytes", "sent_bytes", "user_agent_full",
        "ua_browser_family", "ua_os_family",
        F.element_at(F.split("log_source_file", "/"), -1),
    ).collect()
    run.check("landed_rows", len(rows) == truth.valid, f"{len(rows)} vs {truth.valid}")
    by_status: dict = {}
    for r in rows:
        st = by_status.setdefault(r[4], [0, 0, 0])
        st[0] += 1
        st[1] += r[7]
        st[2] += r[8]
    run.check("per_status_counts_bytes", by_status == truth.by_status,
              f"{sorted(by_status.items())[:3]} vs {sorted(truth.by_status.items())[:3]}")
    fp = fingerprint(tuple(r) for r in rows)
    run.check("table_fingerprint", fp == truth.fingerprint, f"{fp} vs {truth.fingerprint}")


def _ingest(run: Run, files: list[str], url: str) -> None:
    """The `main.run_etl` calls: parse, then the idempotent JDBC load,
    with at most one JDBC connection per core."""
    from elb_log_to_mysql_spark.sinks.jdbc import write_jdbc_idempotent
    from elb_log_to_mysql_spark.sources.alb import read_alb_logs

    with run.span("sources.read_alb_logs"):
        df = read_alb_logs(run.spark, files)
    with run.span("sinks.write_jdbc_idempotent"):
        write_jdbc_idempotent(
            df, url, table=TABLE, driver=DERBY_DRIVER, num_partitions=run.cpus
        )


def _passes(run: Run, files, url, truth, seconds: float, min_ops: int) -> list[float]:
    def op(i: int) -> None:
        with run.span("pass"):
            _ingest(run, files, url)

    def after(i: int) -> None:  # idempotence: every re-ingest lands the same rows
        n = _read_back(run.spark, url).count()
        if n != truth.valid:
            raise WrongResult(f"{n} rows landed after pass {i}, expected {truth.valid}")

    return timed_loop(run, op, seconds, min_ops=min_ops, after=after)


def alb_backfill(run: Run) -> dict:
    files, truths = gen_alb.write_alb_files(
        run.path("logs", ""), run.seed, BACKFILL_FILES, BACKFILL_LINES
    )
    truth = gen_alb.total(truths)
    run.info["input"] = {"files": BACKFILL_FILES, **truth.summary()}
    log(f"input: {run.info['input']}")
    run.phase("generate")

    run.build_session()
    run.phase("session")
    url = derby_url(run, "main")
    for _ in range(WARM_PASSES):
        run.attempted += 1
        _ingest(run, files, url)
    run.phase("warm-up")
    walls = _passes(run, files, url, truth, run.seconds, MIN_PASSES)
    run.phase("timed")
    if run.failed:
        return {}
    check_table(run, url, truth)
    run.phase("check")
    run.info["samples"] = {"pass_s": walls}
    out = {
        "setup_s": run.setup_s,
        "wall_s": median(walls),
        "rows_per_s": truth.valid / median(walls),
    }
    if run.trace:
        return _traced(run, files, truth, out["wall_s"])
    return out


def _traced(run: Run, files, truth, untraced_wall: float) -> dict:
    from pyspark.sql import Observation

    from elb_log_to_mysql_spark.sources.alb import parse_alb_lines, read_alb_logs

    from perfbench import trace

    progress = trace.traced_session(run)
    url = derby_url(run, "traced")
    _ingest(run, files, url)  # warm-up in the new session, not folded
    since = time.time()
    walls = _passes(run, files, url, truth, run.seconds / 2, 2)
    if run.failed:
        return {}
    spark = run.spark
    census = Observation("census")
    for i in range(PROBES):
        with run.span("sources.parse_defer"):
            materialize(parse_alb_lines(spark.read.text(files), ua_strategy="defer"))
        with run.span("sources.parse_default"):
            if i == 0:
                materialize(parse_alb_lines(spark.read.text(files), observation=census))
            else:
                materialize(read_alb_logs(spark, files))
    counts = census.get
    tr = trace.fold(run, progress, since)
    run.phase("traced")

    lineage, insert, driver = [], [], []
    for s in tr.named("sinks.write_jdbc_idempotent"):
        jobs = tr.jobs_under(s)
        lin = sum(j.wall_s for j in jobs if j.call_site.startswith("collect"))
        ins = sum(j.wall_s for j in jobs if not j.call_site.startswith("collect"))
        lineage.append(lin)
        insert.append(ins)
        driver.append(s.wall_s - lin - ins)
    parse_s = tr.median_wall("sources.parse_defer")
    return trace.finish(run, {
        "sources.plan_s": tr.median_wall("sources.read_alb_logs"),
        "sources.parse_s": parse_s,
        "functions.ua_ladder_s": tr.median_wall("sources.parse_default") - parse_s,
        "sources.lines_in": counts["n_lines"],
        "sources.rows_out": counts["n_emitted"],
        "sinks.write_s": tr.median_wall("sinks.write_jdbc_idempotent"),
        "sinks.lineage_job_s": median(lineage),
        "sinks.insert_job_s": median(insert),
        "sinks.driver_s": median(driver),
    }, tr, median(walls), untraced_wall)
