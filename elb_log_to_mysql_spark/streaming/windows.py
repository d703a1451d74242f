"""Structured Streaming operators over the events stream.

ELB logs (and the `events` table) are naturally unbounded; the
reference handles this by being re-run as a batch job. Here the same
declarative pipeline runs under Structured Streaming: event-time
tumbling/sliding windows with watermarks for late data.

For driver/oracle checks the stream is executed with
``Trigger.AvailableNow`` over the parquet directory + a memory sink —
exactly the plan a production `readStream` from a log bucket would
run continuously; only the source/trigger differ.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from elb_log_to_mysql_spark.functions.numeric import DET_DECIMAL
from elb_log_to_mysql_spark.session import scoped_conf


def tumbling_counts(
    events: DataFrame,
    window_dur: str = "1 hour",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Event-time tumbling window counts/sums per event_type.

    Watermark bounds state: windows older than (max event time -
    watermark) are finalized and dropped from the state store, so the
    job runs forever in fixed memory — the streaming analog of the
    batch GROUP BY time_bucket.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_dur).alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(DET_DECIMAL)).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_counts(
    events: DataFrame,
    window_dur: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Sliding event-time windows: each event lands in dur/slide
    overlapping windows (here 4). State growth is windows-per-slide x
    groups; the watermark finalizes and evicts old windows."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_dur, slide).alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(DET_DECIMAL)).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def stream_static_enrich(
    events: DataFrame, profile: DataFrame
) -> DataFrame:
    """STREAM-STATIC inner join + aggregation: each micro-batch of the
    event stream joins a static (batch) dimension — the join mode that
    backs every streaming-enrichment pipeline (events × user profile,
    logs × geo table). Stateless by construction: the static side is
    re-planned per micro-batch, no join state is kept, and Catalyst
    broadcasts it when it fits — at scale the static side is a compact
    dimension, exactly the broadcast case.

    `profile` must provide (user_id, channel); output is event counts
    and exact-decimal value sums per (channel, event_type).
    """
    return (
        events.join(profile, "user_id")
        .groupBy("channel", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(DET_DECIMAL)).cast("double").alias("sum_value"),
        )
    )


def session_window_agg(
    events: DataFrame, gap: str = "30 minutes"
) -> DataFrame:
    """Native session windows (Spark's merging-window state operator):
    per-user sessions closed by a `gap` of inactivity. The streaming
    twin of operators/sessionize.py's batch gap-and-island — same
    session boundaries, so the island SQL doubles as its oracle.

    Session end follows Spark's definition: last event time + gap.
    """
    return (
        events.groupBy(
            F.session_window("ts", gap).alias("win"), "user_id"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(DET_DECIMAL)).cast("double").alias(
                "session_value"
            ),
        )
        .select(
            "user_id",
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            F.date_format(F.col("win.end"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_end_gap"
            ),
            "n_events",
            "session_value",
        )
    )


def run_stream_to_batch(
    spark: SparkSession,
    source_dir: str,
    transform,
    schema,
    output_mode: str = "complete",
    parquet_sink_dir: str | None = None,
) -> DataFrame:
    """Execute a streaming transform over a bounded source and return
    the final result as a batch DataFrame.

    readStream(parquet dir) -> transform -> sink, Trigger.AvailableNow
    (process everything currently in the source, then stop). Default
    sink is an in-memory table — fine for the gate's result sizes, but
    it ingests every emission into the driver single-threaded, so for
    HIGH-CARDINALITY outputs (millions of rows — the 20x probe's 16.7M
    pair emissions inflated the stream wall 4x through it) pass
    `parquet_sink_dir`: the stream then writes a distributed parquet
    sink (append mode, checkpoint alongside) — the production shape —
    and the returned frame reads it back. This is the
    bounded-execution harness for correctness checks; a production
    deployment keeps the identical plan with a continuous trigger.
    """
    from elb_log_to_mysql_spark.sources.tables import nanos_as_long

    name = f"stream_result_{uuid.uuid4().hex[:8]}"
    # Scratch dirs this bounded run allocates (staged source symlink
    # dir, checkpoint) are removed once the query
    # terminates — repeated probe/bench runs must not accumulate
    # checkpoint state on disk (ADVICE r11). The caller-passed
    # parquet_sink_dir is the caller's to clean.
    scratch: list[str] = []
    # FileStreamSource requires a *directory*; when handed a single
    # parquet file (the test layout), stage a symlink dir for it.
    if os.path.isfile(source_dir):
        staged = tempfile.mkdtemp(prefix="stream_src_")
        scratch.append(staged)
        os.symlink(source_dir, os.path.join(staged, os.path.basename(source_dir)))
        source_dir = staged
    try:
        # The micro-batch file scans consult the nanos conf at
        # execution; this bounded run finishes inside the scope, and
        # the caller's conf is restored after (harmless for non-NANOS
        # sources). The stream runs at one shuffle partition per core,
        # not the batch default: Spark applies no AQE coalescing to
        # streams, and the count is locked into the checkpoint, so
        # every extra partition is one more state store committed per
        # micro-batch for the life of the query. The checkpoint is a
        # local temp dir this run creates and deletes, so it goes
        # through the FileSystem API: the default FileContext manager
        # forks `readlink` twice per rename and `chmod` per create
        # when the native Hadoop library is absent (458 process starts
        # per stream_near_dedup run, 131 with this manager).
        ckpt = tempfile.mkdtemp(prefix="stream_ckpt_")
        scratch.append(ckpt)
        with nanos_as_long(spark), scoped_conf(
            spark,
            "spark.sql.shuffle.partitions",
            str(spark.sparkContext.defaultParallelism),
        ), scoped_conf(
            spark,
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        ):
            stream = spark.readStream.schema(schema).parquet(source_dir)
            writer = (
                transform(stream)
                .writeStream.option("checkpointLocation", ckpt)
                .outputMode(output_mode)
                .trigger(availableNow=True)
            )
            if parquet_sink_dir is not None:
                writer = writer.format("parquet").option("path", parquet_sink_dir)
            else:
                writer = writer.format("memory").queryName(name)
            writer.start().awaitTermination()
        if parquet_sink_dir is not None:
            # materialize before the checkpoint vanishes: the read is
            # a plain batch parquet scan of the sink, so only the
            # scratch dirs in `scratch` are still referenced here
            return spark.read.parquet(parquet_sink_dir)
        return spark.table(name)
    finally:
        for d in scratch:
            shutil.rmtree(d, ignore_errors=True)


def stream_exact_dedup(
    documents, watermark: str = "1 hour", event_time: str | None = None
):
    """Streaming exact dedup: emit each content fingerprint once.

    `dropDuplicates` on a stream keeps per-key state forever unless a
    watermark bounds it; with an event-time column + watermark the
    state for fingerprints older than the horizon is evicted — the
    streaming form of the batch groupBy(fingerprint). Without an
    event-time column (this test-table shape) state is unbounded and
    the operator documents that explicitly: at 100 TB continuous
    ingest you ALWAYS pair it with a watermark on arrival time.
    """
    from elb_log_to_mysql_spark.operators.dedup import content_fingerprint

    fp = documents.select(content_fingerprint("text").alias("fp"))
    if event_time is not None:
        fp = documents.select(
            content_fingerprint("text").alias("fp"), F.col(event_time)
        ).withWatermark(event_time, watermark)
        return fp.dropDuplicates(["fp"]).select("fp")
    return fp.dropDuplicates(["fp"])


def stream_stream_click_purchase_join(
    clicks, purchases, within: str = "1 hour", watermark: str = "2 hours"
):
    """Stream-stream inner join: each click paired with same-user
    purchases in the preceding `within` interval.

    Both sides carry watermarks and the join condition bounds event
    time on both sides — that pair is what lets Spark evict buffered
    rows (state is the last `watermark`+`within` of each stream per
    key, not the whole history). Without the time bound a
    stream-stream join is unbounded state and Spark rejects it in
    append mode.
    """
    c = (
        clicks.select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_event_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    p = (
        purchases.select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_event_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") <= F.col("click_ts"))
        & (F.col("purchase_ts") >= F.col("click_ts") - F.expr(f"INTERVAL {within}"))
    )
    return c.join(p, cond).select(
        F.col("c_user").alias("user_id"),
        "click_event_id",
        "purchase_event_id",
    )


def ensure_event_time(df, col: str = "ts"):
    """Normalize the event-time column for any physical layout
    (int64-nanos, TIMESTAMP_NTZ, native TIMESTAMP). Streaming plans
    must not assume one layout — the same logical table can be
    written any of these ways upstream; watermarks require native
    TIMESTAMP. Delegates to the package-wide helper."""
    from elb_log_to_mysql_spark.functions.eventtime import normalize_event_time

    return normalize_event_time(df, col)


def event_time_micros(df, col: str = "ts", out: str = "ts_us"):
    """Event time as raw int64 microseconds (for integer state),
    handling int64-nanos, TIMESTAMP_NTZ, and native-timestamp inputs."""
    from elb_log_to_mysql_spark.functions.eventtime import event_time_micros_col

    return event_time_micros_col(df, col, out)
