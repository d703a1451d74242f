"""Streaming MinHash-LSH near-dedup (streaming/neardedup.py).

Pins the three properties the oracle can't see directly: the stateful
shard operator emits exactly the candidate set a relational band
self-join over the same expressions produces; bucket state carries
across micro-batches (with redelivery dedup, the skew cap and the
per-bucket idle horizon); and verification keeps precision structural.
"""

from __future__ import annotations

import os

import pandas as pd

from pyspark.sql import functions as F

from elb_log_to_mysql_spark.operators import dedup
from elb_log_to_mysql_spark.sources.tables import load_table, raw_parquet_schema
from elb_log_to_mysql_spark.streaming import neardedup
from elb_log_to_mysql_spark.streaming.windows import run_stream_to_batch


def _batch_twin_candidates(docs):
    """Relational twin of the stateful operator: the SAME band_rows
    builder (shingle/signature/band pipeline) run in batch mode,
    candidates from a band self-join."""
    banded = neardedup.band_rows(docs)
    left = banded.select("band_idx", "band_hash", F.col("doc_id").alias("doc_id_a"))
    right = banded.select("band_idx", "band_hash", F.col("doc_id").alias("doc_id_b"))
    return (
        left.join(right, ["band_idx", "band_hash"])
        .filter(F.col("doc_id_a") < F.col("doc_id_b"))
        .select("doc_id_a", "doc_id_b")
        .dropDuplicates()
    )


def test_stream_candidates_equal_batch_join(spark, sf_dir):
    path = os.path.join(sf_dir, "documents.parquet")
    schema = raw_parquet_schema(spark, path)
    cand = run_stream_to_batch(
        spark, path, neardedup.stream_band_collisions, schema, output_mode="append"
    ).dropDuplicates(["doc_id_a", "doc_id_b"])
    docs = load_table(spark, sf_dir, "documents")
    twin = _batch_twin_candidates(docs)
    s = {(r.doc_id_a, r.doc_id_b) for r in cand.collect()}
    b = {(r.doc_id_a, r.doc_id_b) for r in twin.collect()}
    assert s == b and len(s) > 0


def test_band_rows_signatures_bitequal_batch_kernel(spark, sf_dir):
    """The streaming signer path (band_rows) and an independently
    constructed minhash_sig_rows stage share minhash_coefficients, so
    the band rows they derive must be IDENTICAL — the contract that
    makes streamed candidates comparable to batch near_dedup's
    buckets."""
    from elb_log_to_mysql_spark.functions.vectorops import minhash_sig_rows

    docs = load_table(spark, sf_dir, "documents").limit(200)
    via_map = neardedup.band_rows(docs)
    sh = docs.select(
        "doc_id",
        F.transform(dedup.word_shingles("text", 3), lambda s: F.xxhash64(s)).alias(
            "shingles"
        ),
    ).filter(F.size("shingles") > 0)
    via_sig = minhash_sig_rows(sh, num_hashes=64).select(
        "doc_id",
        F.posexplode(dedup.band_hashes(F.col("sig"), 16, 4)).alias(
            "band_idx", "band_hash"
        ),
    )
    a = {(r.doc_id, r.band_idx, r.band_hash) for r in via_map.collect()}
    b = {(r.doc_id, r.band_idx, r.band_hash) for r in via_sig.collect()}
    assert a == b and len(a) > 0


def test_verified_pairs_match_exact_set(spark, sf_dir):
    path = os.path.join(sf_dir, "documents.parquet")
    schema = raw_parquet_schema(spark, path)
    cand = run_stream_to_batch(
        spark, path, neardedup.stream_band_collisions, schema, output_mode="append"
    )
    docs = load_table(spark, sf_dir, "documents")
    found = {
        (r.doc_id_a, r.doc_id_b)
        for r in neardedup.verify_candidate_pairs(cand, docs).collect()
    }
    exact = {
        (r.doc_id_a, r.doc_id_b)
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.6).collect()
    }
    assert found - exact == set()          # precision is structural
    assert len(found & exact) >= 0.9 * len(exact)  # recall floor


class _FakeState:
    """Minimal GroupState stand-in for driving the update fn directly."""

    def __init__(self):
        self._v = None
        self.hasTimedOut = False

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v


def test_stream_join_variant_equals_twin(spark, sf_dir):
    """The JVM stream-stream self-join variant must produce exactly
    the relational twin's candidate set (it IS the same join, with
    arrivals staged through the state store)."""
    path = os.path.join(sf_dir, "documents.parquet")
    from elb_log_to_mysql_spark.sources.tables import raw_parquet_schema as rps

    cand = run_stream_to_batch(
        spark, path, neardedup.stream_band_collisions_join, rps(spark, path),
        output_mode="append",
    ).dropDuplicates(["doc_id_a", "doc_id_b"])
    docs = load_table(spark, sf_dir, "documents")
    twin = _batch_twin_candidates(docs)
    s = {(r.doc_id_a, r.doc_id_b) for r in cand.collect()}
    b = {(r.doc_id_a, r.doc_id_b) for r in twin.collect()}
    assert s == b and len(s) > 0


def test_stream_join_watermark_horizon_bounds_pairs(spark, tmp_path):
    """With event_time + horizon, the watermarked join pairs only
    documents whose ingest times are within the horizon — the dedup
    horizon the stateful variant expresses as idle_timeout_ms, here
    enforced by the time-range join condition (which is also what
    lets Spark evict band-row state older than the watermark)."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 10, 0, 0)
    rows = [
        (1, "the quick brown fox jumps over the lazy dog today", base),
        (2, "the quick brown fox jumps over the lazy dog today",
         base + dt.timedelta(minutes=10)),
        (3, "the quick brown fox jumps over the lazy dog today",
         base + dt.timedelta(hours=3)),
        (4, "the quick brown fox jumps over the lazy dog today",
         base + dt.timedelta(hours=3, minutes=5)),
        # inside doc 1/2's horizon but with UNRELATED text: pairs with
        # nothing — pins that the band-key equalities of the
        # conditioned self-join actually discriminate (a trivially-true
        # key match would pair this with 1 and 2)
        (5, "completely different unrelated content about gardening tools",
         base + dt.timedelta(minutes=20)),
    ]
    src = str(tmp_path / "docs_wm")
    spark.createDataFrame(
        rows, "doc_id long, text string, ingest_ts timestamp"
    ).coalesce(1).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    cand = run_stream_to_batch(
        spark,
        src,
        lambda s: neardedup.stream_band_collisions_join(
            s, event_time="ingest_ts", horizon="1 hour"
        ),
        schema,
        output_mode="append",
    ).dropDuplicates(["doc_id_a", "doc_id_b"])
    got = {(r.doc_id_a, r.doc_id_b) for r in cand.collect()}
    # within-horizon pairs only: (1,2) at 10 min apart, (3,4) at 5 min;
    # the 3-hour gaps (1,3),(1,4),(2,3),(2,4) are outside the horizon
    assert got == {(1, 2), (3, 4)}


def test_hot_bucket_blocklist_guards_join_variant(spark, tmp_path):
    """A degenerate bucket (spam cluster) must be excludable from the
    join variant via the static blocklist: with max_bucket below the
    cluster size the blocklist names its band keys, the anti-join
    drops those band rows, and the spam docs stop pairing — while an
    unrelated normal pair still surfaces."""
    spam = "buy cheap pills online now best price guaranteed today"
    normal = "the quick brown fox jumps over the lazy dog again"
    rows = [(i, spam) for i in range(20)] + [(100, normal), (101, normal)]
    src = str(tmp_path / "docs_spam")
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(
        1
    ).write.mode("overwrite").parquet(src)
    docs = spark.read.parquet(src)

    bl = neardedup.hot_bucket_blocklist(docs, max_bucket=5)
    assert bl.count() > 0  # the spam cluster trips every one of its bands

    # a blocklist built under DIFFERENT band params must be rejected at
    # plan build (its opaque keys would never match — silent no-op guard)
    import pytest

    with pytest.raises(ValueError, match="band config"):
        neardedup.stream_band_collisions_join(docs, bands=32, blocklist=bl)

    # the guard must survive the production flow — blocklist landed to
    # storage and re-read on a refresh cadence (ADVICE r11: a Python
    # attribute dies here; the literal config COLUMNS do not)
    bl_path = str(tmp_path / "blocklist")
    bl.write.mode("overwrite").parquet(bl_path)
    bl_rt = spark.read.parquet(bl_path)
    with pytest.raises(ValueError, match="band config"):
        neardedup.stream_band_collisions_join(docs, bands=32, blocklist=bl_rt)

    # and a frame WITHOUT the config columns (hand-built key list) is
    # rejected up front rather than trusted blindly
    with pytest.raises(ValueError, match="band-config columns"):
        neardedup.stream_band_collisions_join(
            docs, blocklist=bl_rt.select("band_idx", "band_hash")
        )

    schema = docs.schema
    cand = run_stream_to_batch(
        spark,
        src,
        lambda s: neardedup.stream_band_collisions_join(s, blocklist=bl),
        schema,
        output_mode="append",
    ).dropDuplicates(["doc_id_a", "doc_id_b"])
    got = {(r.doc_id_a, r.doc_id_b) for r in cand.collect()}
    assert (100, 101) in got
    assert not any(a < 100 and b < 100 for a, b in got)


def test_latest_cdc_rows_reduces_to_final_emission(spark):
    """An update-mode sink holds one row per touched key per
    micro-batch; latest_cdc_rows must keep exactly the max-emit_seq
    row per key (the final merged state), dropping the ordinal."""
    from elb_log_to_mysql_spark.streaming.cdc import latest_cdc_rows

    emissions = spark.createDataFrame(
        [
            (1, "view", "t1", "insert", True, 1),
            (1, "click", "t2", "update", True, 3),   # final for key 1
            (1, "view", "t1b", "update", True, 2),
            (2, None, None, "delete", False, 2),     # final for key 2
            (2, "signup", "t0", "insert", True, 1),
        ],
        "user_id long, state string, updated_at string, action string, "
        "in_snapshot boolean, emit_seq long",
    )
    rows = {r.user_id: r for r in latest_cdc_rows(emissions).collect()}
    assert set(rows) == {1, 2}
    assert rows[1].state == "click" and rows[1].action == "update"
    assert rows[2].action == "delete" and not rows[2].in_snapshot
    assert "emit_seq" not in latest_cdc_rows(emissions).columns


def test_stream_cdc_multi_microbatch_equals_batch(spark, sf_dir, tmp_path):
    """Force the bounded run to split into MANY micro-batches
    (maxFilesPerTrigger=1 over a multi-file source) and check the
    reduced result still equals the batch cdc_apply merge — the
    regression the emission-ordinal reduce exists to prevent."""
    import os

    from elb_log_to_mysql_spark.operators import analytics
    from elb_log_to_mysql_spark.sources.tables import load_table
    from elb_log_to_mysql_spark.streaming.cdc import (
        latest_cdc_rows,
        stream_cdc_apply,
    )

    events = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "events_split")
    events.repartition(4).write.mode("overwrite").parquet(src)

    name = "cdc_multi_mb_test"
    stream = (
        spark.readStream.schema(load_table(spark, sf_dir, "events").schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        stream_cdc_apply(stream, "2024-01-20")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emissions = spark.table(name)
    # the split genuinely produced multiple emissions for some keys
    assert emissions.count() > emissions.select("user_id").distinct().count()
    got = {
        r.user_id: (r.state, r.action, r.in_snapshot)
        for r in latest_cdc_rows(emissions).collect()
    }
    want = {
        r.user_id: (r.state, r.action, r.in_snapshot)
        for r in analytics.cdc_apply(events, "2024-01-20").collect()
    }
    assert got == want


def test_stream_cdc_tws_equals_batch(spark, sf_dir):
    """transformWithState twin of stream_cdc_apply: same fold, new
    stateful API (named ValueState, TTL-capable, RocksDB-required) —
    must reduce to exactly the batch cdc_apply merge. Skips where the
    protobuf package (the tws state-server protocol) is absent."""
    import importlib.util
    import os

    import pytest

    try:
        has_protobuf = importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:  # no 'google' namespace package at all
        has_protobuf = False
    if not has_protobuf:
        pytest.skip("transformWithState needs the protobuf package")

    from elb_log_to_mysql_spark.operators import analytics
    from elb_log_to_mysql_spark.streaming.cdc import (
        latest_cdc_rows,
        stream_cdc_apply_tws,
    )

    path = os.path.join(sf_dir, "events.parquet")
    emissions = run_stream_to_batch(
        spark, path, lambda s: stream_cdc_apply_tws(s, "2024-01-20"),
        raw_parquet_schema(spark, path), output_mode="update",
    )
    got = {
        r.user_id: (r.state, r.action, r.in_snapshot)
        for r in latest_cdc_rows(emissions).collect()
    }
    events = load_table(spark, sf_dir, "events")
    want = {
        r.user_id: (r.state, r.action, r.in_snapshot)
        for r in analytics.cdc_apply(events, "2024-01-20").collect()
    }
    assert got == want


def test_tws_time_mode_follows_ttl():
    """ADVICE r11: TTL-configured state requires a clock — the tws
    wrapper must pick ProcessingTime whenever a TTL is requested
    (timeMode="None" + ttlDurationMs fails at query start with
    STATEFUL_PROCESSOR_CANNOT_ASSIGN_TTL_IN_NO_TTL_MODE) and reject
    nonsense TTLs up front. Pure-Python, so it runs even where the
    protobuf-backed query itself cannot."""
    import pytest

    from elb_log_to_mysql_spark.streaming.cdc import _tws_time_mode

    assert _tws_time_mode(None) == "None"
    assert _tws_time_mode(60_000) == "ProcessingTime"
    with pytest.raises(ValueError):
        _tws_time_mode(0)
    with pytest.raises(ValueError):
        _tws_time_mode(-5)


def test_stream_cdc_tws_ttl_equals_batch(spark, sf_dir):
    """The TTL-configured branch of stream_cdc_apply_tws (timeMode=
    ProcessingTime): with a TTL far longer than the run, results must
    still equal the batch cdc_apply merge. Protobuf-gated like its
    no-TTL twin above."""
    import importlib.util
    import os

    import pytest

    try:
        has_protobuf = importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:
        has_protobuf = False
    if not has_protobuf:
        pytest.skip("transformWithState needs the protobuf package")

    from elb_log_to_mysql_spark.operators import analytics
    from elb_log_to_mysql_spark.streaming.cdc import (
        latest_cdc_rows,
        stream_cdc_apply_tws,
    )

    path = os.path.join(sf_dir, "events.parquet")
    emissions = run_stream_to_batch(
        spark, path,
        lambda s: stream_cdc_apply_tws(s, "2024-01-20", state_ttl_ms=3_600_000),
        raw_parquet_schema(spark, path), output_mode="update",
    )
    got = {
        r.user_id: (r.state, r.action, r.in_snapshot)
        for r in latest_cdc_rows(emissions).collect()
    }
    events = load_table(spark, sf_dir, "events")
    want = {
        r.user_id: (r.state, r.action, r.in_snapshot)
        for r in analytics.cdc_apply(events, "2024-01-20").collect()
    }
    assert got == want


def test_stream_cdc_fold_is_batch_boundary_invariant():
    """Delivering the same events as one batch or as three batches
    (out of order across batches) must produce the same final row —
    the fold orders within each batch and last-writer-wins across
    them via the stored (ts, event_id) watermark per side."""
    from elb_log_to_mysql_spark.streaming import cdc

    split_us = 1_000_000_000
    fn = cdc.make_cdc_update_fn(split_us)

    def run(batches):
        st = _FakeState()
        out = None
        for b in batches:
            pdf = pd.DataFrame(
                b, columns=["ts_us", "event_id", "event_type"]
            )
            rows = list(fn((7,), iter([pdf]), st))
            out = pd.concat(rows).iloc[-1].to_dict()
        return out

    events = [
        (100, 1, "view"),                      # base
        (200, 2, "error"),                     # later base (errors are U pre-split)
        (1_000_000_100, 3, "click"),           # changelog U
        (1_000_000_200, 4, "error"),           # changelog D (wins)
    ]
    one = run([events])
    three = run([[events[3]], [events[0], events[2]], [events[1]]])
    assert one == three
    assert one["action"] == "delete" and not one["in_snapshot"]
    # resurrect in a 4th batch: U after the tombstone
    st = _FakeState()
    for b in ([events], [[(1_000_000_300, 5, "signup")]]):
        pdf = pd.DataFrame(b[0], columns=["ts_us", "event_id", "event_type"])
        rows = list(fn((7,), iter([pdf]), st))
    final = pd.concat(rows).iloc[-1].to_dict()
    assert final["action"] == "update" and final["state"] == "signup"
    assert final["in_snapshot"]


def _run_shard_update(fn, state, rows, now_ms=0):
    """rows: list of (band_idx, band_hash, doc_id)."""
    state.now_ms = now_ms
    pdf = pd.DataFrame(rows, columns=["band_idx", "band_hash", "doc_id"])
    out = list(fn((0,), iter([pdf]), state))
    if not out:
        return []
    cat = pd.concat(out)
    return sorted(zip(cat["doc_id_a"], cat["doc_id_b"]))


class _FakeShardState(_FakeState):
    def __init__(self):
        super().__init__()
        self.now_ms = 0
        self.removed = False
        self.timeout_set = None

    def getCurrentProcessingTimeMs(self):
        return self.now_ms

    def remove(self):
        self._v = None
        self.removed = True

    def setTimeoutDuration(self, ms):
        self.timeout_set = ms


def test_shard_update_fn_matches_bucket_semantics():
    """Bucket semantics of the shard update fn, with several buckets
    riding one state row: per-bucket pairing in doc_id order across
    micro-batches, redelivery dedup, the skew cap."""
    fn = neardedup.make_shard_update_fn(max_per_bucket=3)
    st = _FakeShardState()
    # two buckets in one shard; bucket (0,7): docs 5,2 -> (2,5);
    # bucket (1,9): doc 4 alone -> nothing
    assert _run_shard_update(fn, st, [(0, 7, 5), (1, 9, 4), (0, 7, 2)]) == [
        (2, 5)
    ]
    # batch 2: doc 1 into (0,7) pairs against both; doc 6 into (1,9)
    # pairs against 4 — and bucket isolation holds (no cross pairs)
    assert _run_shard_update(fn, st, [(0, 7, 1), (1, 9, 6)]) == [
        (1, 2),
        (1, 5),
        (4, 6),
    ]
    # redelivery: no new pairs, no state growth
    assert _run_shard_update(fn, st, [(0, 7, 2)]) == []
    # skew cap: bucket (0,7) is full (3) -> new doc neither pairs nor joins
    assert _run_shard_update(fn, st, [(0, 7, 9)]) == []
    # state layout: both buckets present with their occupants
    band_idxs, band_hashes, counts, flat, touch = st.get
    got = {}
    pos = 0
    for bi, bh, n in zip(band_idxs, band_hashes, counts):
        got[(bi, bh)] = list(flat[pos : pos + n])
        pos += n
    assert got == {(0, 7): [2, 5, 1], (1, 9): [4, 6]}
    assert touch == [0, 0]  # no timeout -> pure-function state


def test_shard_update_fn_per_bucket_idle_horizon():
    """With idle_timeout_ms, each BUCKET is pruned independently at
    the shard's next touch: a stale bucket's occupants never pair
    against a re-arrival, while a fresh bucket in the same shard keeps
    its state — the fine-grained eviction semantics."""
    fn = neardedup.make_shard_update_fn(max_per_bucket=10, idle_timeout_ms=1000)
    st = _FakeShardState()
    assert _run_shard_update(fn, st, [(0, 7, 1), (1, 9, 3)], now_ms=0) == []
    assert st.timeout_set == 1000
    # t=500: bucket (1,9) touched again (stays fresh)
    assert _run_shard_update(fn, st, [(1, 9, 4)], now_ms=500) == [(3, 4)]
    # t=1200: (0,7) is idle > 1000 -> pruned before pairing: doc 2
    # starts a FRESH bucket (no pair against forgotten doc 1);
    # (1,9) is 700ms idle -> keeps state, doc 5 pairs against 3 and 4
    assert _run_shard_update(
        fn, st, [(0, 7, 2), (1, 9, 5)], now_ms=1200
    ) == [(3, 5), (4, 5)]
    # shard-level timeout: a fully idle shard is removed outright
    st.hasTimedOut = True
    assert list(fn((0,), iter([]), st)) == []
    assert st.removed and not st.exists
    # re-arrival after the removal, inside what was (0,7)'s horizon:
    # a fresh bucket that pairs with nothing (not with forgotten doc 2)
    # and is the only occupant in state
    st.hasTimedOut = False
    assert _run_shard_update(fn, st, [(0, 7, 6)], now_ms=1300) == []
    assert st.get == ([0], [7], [1], [6], [1300])
