"""Watermark semantics: late events beyond the watermark must be
dropped, and finalized windows must never be re-emitted (append mode).

Two real micro-batches through a file source — the only way to
observe watermark state advancing; a single AvailableNow pass never
finalizes anything mid-stream.
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import tempfile
import time
import uuid

import pytest
from pyspark.sql import functions as F

from elb_log_to_mysql_spark.session import scoped_conf
from elb_log_to_mysql_spark.streaming.windows import run_stream_to_batch, tumbling_counts

BASE = dt.datetime(2024, 3, 1, 10, 0, 0)


def _write_batch(spark, path, rows):
    spark.createDataFrame(
        [(i, BASE + dt.timedelta(minutes=m), et, 1.0) for i, (m, et) in enumerate(rows)],
        "event_id long, ts timestamp, event_type string, value double",
    ).coalesce(1).write.mode("append").parquet(path)


def test_watermark_drops_late_events(spark, tmp_path):
    src = str(tmp_path / "stream_src")
    name = f"late_{uuid.uuid4().hex[:8]}"

    # batch 1: events in [10:00, 11:00) plus one at 12:30 that pushes
    # the max event time to 12:30 -> watermark cutoff 12:20, so the
    # 10:00 window (end 11:00 <= cutoff) is finalized and emitted.
    _write_batch(
        spark, src, [(0, "click"), (20, "click"), (40, "click"), (150, "click")]
    )

    schema = "event_id long, ts timestamp, event_type string, value double"
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        tumbling_counts(stream, window_dur="1 hour", watermark="10 minutes")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        first = {
            (r.window_start, r.event_type): r.n_events
            for r in spark.sql(f"SELECT * FROM {name}").collect()
        }
        assert first[("2024-03-01 10:00:00", "click")] == 3

        # batch 2: one event at 10:30 — 110 minutes older than the
        # watermark cutoff, must be DROPPED — and one fresh event at
        # 14:30 that advances the watermark past 12:30's window so it
        # finalizes with only its original event.
        _write_batch(spark, src, [(30, "click"), (270, "click")])
        q.processAllAvailable()
        rows = spark.sql(f"SELECT * FROM {name}").collect()
        final = {}
        for r in rows:
            key = (r.window_start, r.event_type)
            assert key not in final, f"window {key} emitted twice"
            final[key] = r.n_events
        # late event did not resurrect or alter the finalized window
        assert final[("2024-03-01 10:00:00", "click")] == 3
        # the 12:00 window finalized without the late 10:30 event
        assert final[("2024-03-01 12:00:00", "click")] == 1
    finally:
        q.stop()


def test_stateful_stream_restart_resumes_state(spark, tmp_path):
    """applyInPandasWithState state survives a query restart through
    the checkpoint: the second run sees only new files yet reports
    cumulative per-user profiles."""
    import uuid

    from elb_log_to_mysql_spark.streaming.stateful import user_profile_stream

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    schema = "user_id long, event_id long, ts_us long, value double"

    def write_file(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))

    def run_once(qname):
        # memory sink cannot recover from a checkpoint; foreachBatch can
        collected = []

        def sink(batch_df, _batch_id):
            collected.extend(batch_df.collect())

        stream = spark.readStream.schema(schema).parquet(str(src))
        q = (
            user_profile_stream(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {r.user_id: r for r in collected}

    write_file("f1", [(1, 1, 1_000_000, 1.0), (1, 2, 3_000_000, 2.0), (2, 3, 1_000_000, 5.0)])
    first = run_once(f"sr_{uuid.uuid4().hex[:8]}")
    assert first[1].n_events == 2 and first[1].sum_cents == 300
    assert first[1].max_gap_us == 2_000_000

    write_file("f2", [(1, 4, 10_000_000, 0.5), (3, 5, 1_000_000, 9.0)])
    second = run_once(f"sr_{uuid.uuid4().hex[:8]}")
    # user 1: cumulative across restart — 3 events, 350 cents, gap 7s
    assert second[1].n_events == 3 and second[1].sum_cents == 350
    assert second[1].max_gap_us == 7_000_000
    # user 2 had no new events: update mode emits nothing for it
    assert 2 not in second
    assert second[3].n_events == 1


def test_stateful_idle_timeout_evicts_and_flushes():
    """The timeout branch must emit the key's final profile and REMOVE
    its state (bounded store). Driven directly with a fake GroupState:
    processing-time timers cannot fire deterministically in a test."""
    import pandas as pd

    from elb_log_to_mysql_spark.streaming.stateful import make_update_fn

    class FakeState:
        def __init__(self, value):
            self._value = value
            self.exists = value is not None
            self.hasTimedOut = False
            self.removed = False
            self.timeout_set = None

        @property
        def get(self):
            return self._value

        def update(self, v):
            self._value = v
            self.exists = True

        def remove(self):
            self.removed = True
            self.exists = False

        def setTimeoutDuration(self, ms):
            self.timeout_set = ms

    fn = make_update_fn(idle_timeout_ms=60_000)

    # normal batch: state updated, timer armed
    st = FakeState(None)
    batch = pd.DataFrame(
        {"ts_us": [1_000_000, 3_000_000], "event_id": [1, 2], "value": [1.5, 2.0]}
    )
    out = list(fn((7,), iter([batch]), st))
    assert st.timeout_set == 60_000 and not st.removed
    assert out[0].iloc[0].to_dict() == {
        "user_id": 7, "n_events": 2, "sum_cents": 350, "max_gap_us": 2_000_000
    }

    # timeout firing: final flush + eviction, no further state writes
    st.hasTimedOut = True
    flushed = list(fn((7,), iter([]), st))
    assert st.removed, "timed-out key must be evicted from the store"
    assert flushed[0].iloc[0].to_dict() == {
        "user_id": 7, "n_events": 2, "sum_cents": 350, "max_gap_us": 2_000_000
    }


def test_stream_static_join_equals_batch(spark, sf_dir):
    """Stateless stream-static inner join: the streaming result must
    equal the batch plan exactly (same join, same aggregation)."""
    import os

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from elb_log_to_mysql_spark.sources.tables import (
        load_table,
        raw_parquet_schema,
    )
    from elb_log_to_mysql_spark.streaming.windows import (
        ensure_event_time,
        run_stream_to_batch,
        stream_static_enrich,
    )

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    profile = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("channel"))
    )
    batch = {
        tuple(r)
        for r in stream_static_enrich(ev, profile).collect()
    }
    src = os.path.join(sf_dir, "events.parquet")
    streamed = {
        tuple(r)
        for r in run_stream_to_batch(
            spark, src,
            lambda s: stream_static_enrich(ensure_event_time(s), profile),
            raw_parquet_schema(spark, src),
        ).collect()
    }
    assert streamed == batch


def test_stream_funnel_equals_batch_funnel(spark, tmp_path):
    """Stream ≡ batch for the funnel fold: drive the incremental
    stateful funnel over MULTIPLE micro-batches (two files dropped in
    event-time order) and require the final stage table to equal the
    batch operator's on the union."""
    import datetime as dt

    from pyspark.sql import functions as F

    from elb_log_to_mysql_spark.operators.analytics import funnel_analysis
    from elb_log_to_mysql_spark.streaming.stateful import funnel_stream

    steps = ["view", "click", "purchase"]
    base = dt.datetime(2024, 1, 1)
    # user 1 completes across the file split; user 2 only views
    early = [(1, base, 1, "view"), (2, base, 2, "view")]
    late = [
        (1, base + dt.timedelta(minutes=1), 3, "click"),
        (1, base + dt.timedelta(minutes=2), 4, "purchase"),
    ]
    src = tmp_path / "stream_src"
    src.mkdir()
    schema = "user_id long, ts timestamp, event_id long, event_type string"
    spark.createDataFrame(early, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src / "f0.parquet"))
    spark.createDataFrame(late, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src / "f1.parquet"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*/")
    )
    prepared = stream.select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts_us"), "event_type"
    )
    q = (
        funnel_stream(prepared, steps)
        .writeStream.format("memory")
        .queryName("funnel_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = (
        spark.table("funnel_test")
        .groupBy("user_id")
        .agg(F.max("stage").alias("max_stage"))
        .collect()
    )
    stages = {r["user_id"]: r["max_stage"] for r in got}
    assert stages == {1: 3, 2: 1}
    batch = funnel_analysis(
        spark.createDataFrame(early + late, schema), steps
    ).collect()
    assert {r["step_name"]: r["n_users"] for r in batch} == {
        "view": 2, "click": 1, "purchase": 1,
    }


def _state_partitions_listener(spark, into: list):
    """Register a listener that appends each progress's per-operator
    state partition counts to `into`."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _StatePartitions(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            into.append([o.numShufflePartitions for o in event.progress.stateOperators])

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = _StatePartitions()
    spark.streams.addListener(listener)
    return listener


def _write_ids(spark, path):
    spark.range(100).selectExpr("id", "id % 5 AS k").coalesce(1).write.parquet(path)


CKPT_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"


def _stream_ckpts() -> set[str]:
    return set(glob.glob(os.path.join(tempfile.gettempdir(), "stream_ckpt_*")))


def test_bounded_stream_state_follows_cores(spark, tmp_path):
    """A bounded stream runs one state partition per core whatever the
    session's batch shuffle count, and hands the caller's value back."""
    src = str(tmp_path / "ids")
    _write_ids(spark, src)
    progress: list = []
    listener = _state_partitions_listener(spark, progress)
    ckpts = _stream_ckpts()
    try:
        with scoped_conf(spark, "spark.sql.shuffle.partitions", "3"):
            out = run_stream_to_batch(
                spark, src, lambda s: s.groupBy().count(), "id long, k long"
            )
            assert [tuple(r) for r in out.collect()] == [(100,)]
            deadline = time.time() + 30  # listener calls are asynchronous
            while not progress and time.time() < deadline:
                time.sleep(0.1)
            assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
    finally:
        spark.streams.removeListener(listener)
    cores = spark.sparkContext.defaultParallelism
    assert progress and all(p == [cores] for p in progress)
    # the checkpoint manager is scoped to the run and its checkpoint
    # directory removed with it
    assert spark.conf.get(CKPT_MANAGER, None) is None
    assert _stream_ckpts() == ckpts


def test_failing_stream_restores_shuffle_partitions(spark, tmp_path):
    """A stream whose transform raises at execution propagates the
    error, leaves the session's shuffle partition count and checkpoint
    manager as they were, and removes its checkpoint directory."""
    @F.udf("long")
    def _explode(v):
        raise ValueError(f"transform failed on {v}")

    src = str(tmp_path / "ids")
    _write_ids(spark, src)
    ckpts = _stream_ckpts()
    with scoped_conf(spark, "spark.sql.shuffle.partitions", "3"):
        with pytest.raises(Exception, match="transform failed on"):
            run_stream_to_batch(
                spark,
                src,
                lambda s: s.select(_explode("id").alias("k")).groupBy("k").count(),
                "id long, k long",
            )
        assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
    assert spark.conf.get(CKPT_MANAGER, None) is None
    assert _stream_ckpts() == ckpts
