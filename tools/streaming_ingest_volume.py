"""Streaming ELB ingest at volume: throughput + mid-stream crash
recovery into the idempotent JDBC sink (STREAMING_r07 evidence).

The Derby e2e tests (tests/test_sinks_jdbc.py) prove the semantics at
fixture size; this tool proves them at volume and measures the rate:

1. generate an ALB log corpus (default 1M lines across 64 files —
   the reference's S3 prefix listing shape, etl:53-61, as local
   files);
2. THROUGHPUT: drain the whole directory through the checkpointed
   stream (streaming/ingest.py:stream_alb_to_jdbc semantics:
   readStream.text -> the exact parse chain -> foreachBatch
   delete-then-append) in bounded micro-batches and record rows/s
   end-to-end (parse + JDBC write included);
3. CRASH RECOVERY: rerun from scratch with a sink that RAISES after
   K committed batches (a mid-stream executor/driver loss), restart
   with the SAME checkpoint, and prove exactly-once: final count =
   corpus lines, every row distinct, per-file counts intact;
4. RE-DELIVERY: push one already-ingested file through a FRESH
   checkpoint (upstream re-upload — invisible to the engine) and
   prove the file-scoped idempotent sink converges instead of
   duplicating.

Usage: python tools/streaming_ingest_volume.py [n_lines] [n_files] [out.json]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from elb_log_to_mysql_spark.session import build_session  # noqa: E402
from elb_log_to_mysql_spark.sinks.jdbc import write_jdbc_idempotent  # noqa: E402
from elb_log_to_mysql_spark.sources.alb import parse_and_classify  # noqa: E402

DERBY_DRIVER = "org.apache.derby.iapi.jdbc.AutoloadedDriver"
TABLE = "elb_log_data"


def generate_corpus(spark, n_lines: int, n_files: int, out_dir: str) -> None:
    """Deterministic ALB corpus: globally unique request paths make
    every row identifiable, so 'no duplicates' is checkable exactly."""
    line = F.format_string(
        'h2 2025-05-26T%02d:%02d:%02d.000123Z app/x/y 10.0.%d.%d:443 '
        '5.6.7.8:80 0.001 0.020 0.000 %d 200 %d 2000 '
        '"GET https://ex.com/p/%d HTTP/2.0" "agent/%d Chrome/120.0" '
        "CIPHER TLSv1.3 arn",
        (F.col("id") % 24).cast("int"),
        (F.floor(F.col("id") / 24) % 60).cast("int"),
        (F.col("id") % 60).cast("int"),
        (F.col("id") % 250).cast("int"),
        ((F.col("id") * 13) % 250).cast("int"),
        F.when(F.col("id") % 50 == 0, 500).otherwise(200),
        (F.col("id") % 1000).cast("int"),
        F.col("id").cast("long"),
        (F.col("id") % 7).cast("int"),
    )
    (
        spark.range(0, n_lines)
        .select(line.alias("value"))
        .repartition(n_files)
        .write.mode("overwrite")
        .text(out_dir)
    )


def drain(
    spark,
    source_dir: str,
    url: str,
    checkpoint: str,
    max_files_per_trigger: int,
    fail_after_batches: int | None = None,
) -> int:
    """availableNow drain in bounded micro-batches; optionally raise
    after K committed batches to simulate a mid-stream crash. Returns
    the number of batches the sink COMMITTED this run."""
    lines = spark.readStream.option(
        "maxFilesPerTrigger", str(max_files_per_trigger)
    ).text(source_dir)
    committed = {"n": 0}

    # parse ONCE per micro-batch into a persisted frame, classify UA
    # over the distinct agents; both passes of the sink (which caches
    # nothing itself) read that one parse cache — the exact shape
    # streaming/ingest.py:stream_alb_to_jdbc runs (and the fix for
    # the r8 throughput dip: see SCALE.md)
    def sink(batch_df, _batch_id: int) -> None:
        if fail_after_batches is not None and committed["n"] >= fail_after_batches:
            raise RuntimeError("injected mid-stream failure")
        rows, parsed = parse_and_classify(batch_df)
        try:
            write_jdbc_idempotent(
                rows, url, table=TABLE, driver=DERBY_DRIVER, num_partitions=4
            )
        finally:
            parsed.unpersist()
        committed["n"] += 1

    q = (
        lines.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    except Exception as exc:
        # Swallow ONLY the injected crash: Spark wraps the sink's
        # RuntimeError in a StreamingQueryException, so walk the
        # cause chain / message for the marker. A genuine failure in
        # the crash-injection run must still fail the tool loudly —
        # folding it into a smaller rows_at_crash would silently
        # corrupt the replay evidence.
        def injected(e: BaseException | None, depth: int = 10) -> bool:
            while e is not None and depth > 0:
                if "injected mid-stream failure" in str(e):
                    return True
                e = e.__cause__ or e.__context__
                depth -= 1
            return False

        if fail_after_batches is None or not injected(exc):
            raise
    return committed["n"]


def read_back(spark, url):
    return (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", TABLE)
        .option("driver", DERBY_DRIVER)
        .load()
    )


def main() -> None:
    n_lines = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    n_files = int(sys.argv[2]) if len(sys.argv) > 2 else 64
    out_json = sys.argv[3] if len(sys.argv) > 3 else "STREAMING_INGEST_VOLUME.json"

    work = tempfile.mkdtemp(prefix="alb_ingest_vol_")
    logs = os.path.join(work, "logs")
    spark = build_session(app_name="streaming-ingest-volume")
    spark.sparkContext.setLogLevel("ERROR")

    generate_corpus(spark, n_lines, n_files, logs)
    report: dict = {"n_lines": n_lines, "n_files": n_files}

    # --- phase 1: clean-drain throughput ---
    url1 = f"jdbc:derby:{work}/db1;create=true"
    t0 = time.perf_counter()
    drain(spark, logs, url1, os.path.join(work, "ckpt1"),
          max_files_per_trigger=max(n_files // 8, 1))
    wall = time.perf_counter() - t0
    n1 = read_back(spark, url1).count()
    report["throughput"] = {
        "rows_ingested": n1,
        "wall_sec": round(wall, 2),
        "rows_per_sec": round(n1 / wall, 1),
        "all_lines_ingested": n1 == n_lines,
    }

    # --- phase 2: crash mid-stream, restart, exactly-once ---
    url2 = f"jdbc:derby:{work}/db2;create=true"
    ckpt2 = os.path.join(work, "ckpt2")
    committed = drain(
        spark, logs, url2, ckpt2,
        max_files_per_trigger=max(n_files // 8, 1), fail_after_batches=3,
    )
    partial = read_back(spark, url2).count()
    t0 = time.perf_counter()
    drain(spark, logs, url2, ckpt2, max_files_per_trigger=max(n_files // 8, 1))
    recovery_wall = time.perf_counter() - t0
    back = read_back(spark, url2)
    total = back.count()
    distinct_rows = back.select("requested_path").distinct().count()
    report["crash_recovery"] = {
        "batches_before_crash": committed,
        "rows_at_crash": partial,
        "rows_after_restart": total,
        "recovery_wall_sec": round(recovery_wall, 2),
        "exactly_once": total == n_lines and distinct_rows == n_lines,
    }

    # --- phase 3: re-delivery through a fresh checkpoint ---
    # The whole corpus is re-pushed with a NEW checkpoint (an upstream
    # re-upload: the engine cannot know it already consumed these
    # files). The file-scoped delete-then-append must CONVERGE to one
    # copy per file, not double the table (tests/test_sinks_jdbc.py
    # proves this at fixture size; this is the volume datapoint).
    t0 = time.perf_counter()
    drain(spark, logs, url2, os.path.join(work, "ckpt3"),
          max_files_per_trigger=max(n_files // 8, 1))
    redelivery_wall = time.perf_counter() - t0
    after = read_back(spark, url2).count()
    report["redelivery"] = {
        "rows_after_full_redelivery": after,
        "redelivery_wall_sec": round(redelivery_wall, 2),
        "converged_not_duplicated": after == n_lines,
    }

    spark.stop()
    shutil.rmtree(work, ignore_errors=True)
    with open(out_json, "w") as fh:
        json.dump(report, fh, indent=1)
    print(json.dumps(report))


if __name__ == "__main__":
    main()
