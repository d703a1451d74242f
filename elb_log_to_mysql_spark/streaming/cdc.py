"""Streaming CDC changelog apply — the continuously-maintained
materialized view of operators/analytics.py:cdc_apply.

The batch operator replays base + changelog with two aggregates and a
merge join; on a stream the same semantics become per-key STATE:
each key remembers its latest pre-`split` state (the base snapshot
contribution) and its latest post-`split` net operation, and every
micro-batch emits the key's CURRENT merged row (update semantics —
downstream sinks upsert on user_id). Tombstones (`error` events at or
after the split) delete; later upserts resurrect; last-writer-wins is
by (ts, event_id), identical to the batch operator, so the final
emission per key is bit-equal to the batch merge audit — the gate
checks exactly that, sharing cdc_apply's oracle.

Scale shape: state is O(distinct keys) and three scalars wide; batch
rows stream through per key in Arrow batches and are folded in
(ts, event_id) order, so the result is a pure function of the input,
not of batch boundaries (the cross-batch unit test pins this). For
unbounded keyspaces pair with an idle timeout exactly like
stateful.py's profile operator; the default keeps the operator pure
for the oracle.
"""

from __future__ import annotations

from collections.abc import Iterator
from datetime import datetime, timezone

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from elb_log_to_mysql_spark.functions.eventtime import event_time_micros_col

CDC_STATE_SCHEMA = T.StructType(
    [
        T.StructField("b_us", T.LongType()),     # latest pre-split (ts, id)
        T.StructField("b_id", T.LongType()),
        T.StructField("b_state", T.StringType()),
        T.StructField("u_us", T.LongType()),     # latest post-split (ts, id)
        T.StructField("u_id", T.LongType()),
        T.StructField("u_op", T.StringType()),
        T.StructField("u_state", T.StringType()),
        T.StructField("n_seen", T.LongType()),   # rows folded (emission ordinal)
    ]
)

CDC_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("state", T.StringType()),
        T.StructField("updated_at", T.StringType()),
        T.StructField("action", T.StringType()),
        T.StructField("in_snapshot", T.BooleanType()),
        # cumulative rows folded for this key — strictly increases with
        # every emission (a key only appears in a micro-batch group when
        # it has rows), so max_by(emit_seq) per key IS the final merged
        # row even when the bounded run splits into many micro-batches
        T.StructField("emit_seq", T.LongType()),
    ]
)

_EMPTY = (-1, -1, None, -1, -1, None, None, 0)


def _fmt_us(us: int) -> str:
    return datetime.fromtimestamp(us / 1_000_000, tz=timezone.utc).strftime(
        "%Y-%m-%d %H:%M:%S"
    )


def make_cdc_update_fn(split_us: int):
    """Per-key CDC fold: maintain (latest base event, latest changelog
    op) and emit the merged row. Rows fold in (ts_us, event_id) order
    within every batch, so cross-batch delivery order cannot change
    the outcome."""

    def _update(
        key: tuple,
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        b_us, b_id, b_state, u_us, u_id, u_op, u_state, n_seen = (
            state.get if state.exists else _EMPTY
        )
        for pdf in batches:
            pdf = pdf.sort_values(["ts_us", "event_id"])
            for ts_us, event_id, etype in zip(
                pdf["ts_us"], pdf["event_id"], pdf["event_type"]
            ):
                ts_us, event_id = int(ts_us), int(event_id)
                n_seen += 1
                if ts_us < split_us:
                    if (ts_us, event_id) > (b_us, b_id):
                        b_us, b_id, b_state = ts_us, event_id, str(etype)
                else:
                    if (ts_us, event_id) > (u_us, u_id):
                        u_op = "D" if str(etype) == "error" else "U"
                        u_us, u_id, u_state = ts_us, event_id, str(etype)
        state.update((b_us, b_id, b_state, u_us, u_id, u_op, u_state, n_seen))

        deleted = u_op == "D"
        has_base, has_chg = b_id >= 0, u_id >= 0
        if deleted:
            action, out_state, out_at = "delete", None, None
        elif has_chg:
            action = "update" if has_base else "insert"
            out_state, out_at = u_state, _fmt_us(u_us)
        else:
            action, out_state, out_at = "carry", b_state, _fmt_us(b_us)
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "state": [out_state],
                "updated_at": [out_at],
                "action": [action],
                "in_snapshot": [not deleted],
                "emit_seq": [n_seen],
            }
        )

    return _update


def stream_cdc_apply(events, split: str) -> DataFrame:
    """Apply the CDC fold over a (streaming) events DataFrame with
    columns (event_id, ts, user_id, event_type, ...). Emits the
    current merged row per touched key each micro-batch."""
    split_us = int(
        datetime.strptime(split, "%Y-%m-%d")
        .replace(tzinfo=timezone.utc)
        .timestamp()
        * 1_000_000
    )
    keyed = events.select(
        "user_id",
        "event_id",
        "event_type",
        # event_time_micros_col handles all three physical ts layouts
        # (int64-nanos bigint, TIMESTAMP_NTZ, native TIMESTAMP); a raw
        # bigint->timestamp cast would read nanos as SECONDS and
        # misclassify every event against split_us.
        event_time_micros_col(events, "ts", "ts_us"),
    )
    return keyed.groupBy("user_id").applyInPandasWithState(
        make_cdc_update_fn(split_us),
        outputStructType=CDC_OUTPUT_SCHEMA,
        stateStructType=CDC_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def latest_cdc_rows(emissions: DataFrame) -> DataFrame:
    """Reduce an update-mode CDC emission table (one row per touched
    key per micro-batch) to each key's FINAL merged row: max_by over
    the strictly-increasing per-key emit_seq. This is the sink-side
    upsert a production deployment does on user_id — applied here as
    a batch reduce so a bounded run stays correct whatever the
    micro-batch split (multi-file source dirs, maxFilesPerTrigger)."""
    return (
        emissions.groupBy("user_id")
        .agg(
            F.max_by(
                F.struct("state", "updated_at", "action", "in_snapshot"),
                F.col("emit_seq"),
            ).alias("_final")
        )
        .select("user_id", "_final.*")
    )
