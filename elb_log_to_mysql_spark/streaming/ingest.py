"""The reference pipeline as an always-on incremental ingest.

The reference (etl_elb_log_to_mysql.py:162-177) is a batch rerun: list
S3, parse every file, append to MySQL — re-delivery duplicates rows
(etl:155, append-only to_sql). This module is the streaming-native
form of the same movement: `readStream.text` watches the log
directory, the identical parse chain (sources/alb.py — expression
for expression the same plan) runs per micro-batch, and the sink is
the file-scoped idempotent JDBC writer, so BOTH replay semantics are
covered:

- engine-level exactly-once: the checkpoint records which source
  files each micro-batch consumed — a crashed/restarted query never
  re-emits a completed batch;
- delivery-level idempotence: if the SAME log file is re-delivered
  (new checkpoint, upstream re-upload — outside what checkpoints can
  see), `write_jdbc_idempotent` deletes that file's rows before
  appending, converging to one copy instead of accumulating.

At scale the sink bottleneck is the database: foreachBatch coalesces
to `sink_connections` partitions (= concurrent connections), and the
delete-then-append per batch touches only that batch's lineage keys.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from elb_log_to_mysql_spark.sinks.jdbc import write_jdbc_idempotent
from elb_log_to_mysql_spark.sources.alb import parse_and_classify


def stream_alb_to_jdbc(
    spark: SparkSession,
    source_dir: str,
    url: str,
    table: str = "elb_log_data",
    driver: str | None = None,
    checkpoint: str | None = None,
    sink_connections: int = 4,
    available_now: bool = True,
    user: str | None = None,
    password: str | None = None,
):
    """Continuous ALB-log → JDBC ingest. With `available_now` the call
    drains everything currently in `source_dir` and returns (bounded
    test/backfill mode); otherwise it returns the running query for
    the caller to manage. `user`/`password` authenticate both the
    sink's DELETE and its append (a JDBC URL from
    main.mysql_url_from_env carries no credentials)."""
    lines = spark.readStream.text(source_dir)

    # The parse chain runs INSIDE foreachBatch (input_file_name()
    # still resolves there — the micro-batch is a plain file-source
    # DataFrame), parsed ONCE into a persisted frame by
    # parse_and_classify, the batch read_alb_logs shape: the
    # idempotent sink makes two passes (lineage-key distinct + write)
    # and UA classification two more (distinct agents + join), so an
    # unpersisted plan would re-run from_csv 3-4x per batch (visible
    # as 2-3x numInputRows in streaming progress). The sink caches
    # nothing itself, so the parse cache is the batch's one cached
    # copy. The distinct-agent join runs the ~300-regex uap walk once
    # per DISTINCT agent per batch, and the micro-batch plan carries a
    # broadcast join instead of a ~600-arm CASE that Catalyst
    # re-analyzes every trigger. The parse cache is released per
    # micro-batch.
    def sink(batch_df, _batch_id: int) -> None:
        rows, parsed = parse_and_classify(batch_df)
        try:
            write_jdbc_idempotent(
                rows,
                url,
                table=table,
                driver=driver,
                num_partitions=sink_connections,
                user=user,
                password=password,
            )
        finally:
            parsed.unpersist()

    writer = lines.writeStream.foreachBatch(sink)
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return None
    return writer.start()
