"""Streaming MinHash-LSH near-dedup (streaming/neardedup.py) and the
streaming CDC fold (streaming/cdc.py).

Pins the properties the oracle can't see directly: the stream-stream
band self-join emits exactly the candidate set a relational band
self-join over the same expressions produces, also when the corpus
arrives over several micro-batches (candidate state carried across
batches); the watermark horizon and the static blocklist bound it;
and verification keeps precision structural.
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
    """Relational twin of the streaming join: near_dedup_minhash's own
    candidate stage (the same shingle/signature/band chain, then the
    band self-join) run in batch mode, without the bucket cap."""
    return dedup.band_pairs(dedup.band_rows(dedup.shingle_sets(docs)))


def test_stream_candidates_equal_batch_join(spark, sf_dir):
    """The stream-stream self-join must produce exactly the relational
    twin's candidate set (it IS the same join, with arrivals staged
    through the state store)."""
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
    via_map = dedup.band_rows(dedup.shingle_sets(docs))
    sh = docs.select(
        "doc_id",
        F.transform(dedup.word_shingles("text", 3), lambda s: F.xxhash64(s)).alias(
            "shingles"
        ),
    ).filter(F.size("shingles") > 0)
    via_sig = minhash_sig_rows(sh, num_hashes=64).select(
        "doc_id",
        F.posexplode(dedup.band_hashes(F.col("sig"))).alias(
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


def test_stream_verified_pairs_equal_batch_near_dedup(spark, sf_dir):
    """Stream and batch share shingling, banding and verification, so
    with no bucket over the batch cap the verified pair sets (and
    their Jaccard values) are identical."""
    path = os.path.join(sf_dir, "documents.parquet")
    schema = raw_parquet_schema(spark, path)
    cand = run_stream_to_batch(
        spark, path, neardedup.stream_band_collisions, schema, output_mode="append"
    )
    docs = load_table(spark, sf_dir, "documents")
    stream = {
        tuple(r) for r in neardedup.verify_candidate_pairs(cand, docs).collect()
    }
    batch = {tuple(r) for r in dedup.near_dedup_minhash(docs).collect()}
    assert stream == batch and len(batch) > 0


def test_stream_candidates_carry_across_micro_batches(spark, sf_dir, tmp_path):
    """The corpus arrives as three files, one per micro-batch: band
    rows of earlier batches stay in join state, so a document in a
    later file still pairs with its near-duplicate in an earlier one,
    and the deduplicated candidate set equals the batch twin's."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = str(tmp_path / "docs_split")
    for k in range(3):
        docs.filter(F.col("doc_id") % 3 == k).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    assert len([f for f in os.listdir(src) if f.endswith(".parquet")]) == 3

    name = "neardedup_cross_batch_test"
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        neardedup.stream_band_collisions(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert max(p["batchId"] for p in q.recentProgress) >= 2
    got = {
        (r.doc_id_a, r.doc_id_b)
        for r in spark.table(name).dropDuplicates().collect()
    }
    twin = _batch_twin_candidates(docs)
    want = {(r.doc_id_a, r.doc_id_b) for r in twin.collect()}
    assert got == want
    # pairs whose documents sit in different files, so in different
    # micro-batches
    assert any(a % 3 != b % 3 for a, b in got)


def test_stream_join_watermark_horizon_bounds_pairs(spark, tmp_path):
    """With event_time + horizon, the watermarked join pairs only
    documents whose ingest times are within the horizon — the dedup
    horizon, enforced by the time-range join condition (which is also
    what lets Spark evict band-row state older than the watermark)."""
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
        lambda s: neardedup.stream_band_collisions(
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
    streaming join via the static blocklist: with max_bucket below the
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

    bl_32 = bl.withColumn("_cfg_bands", F.lit(32))
    with pytest.raises(ValueError, match="band config"):
        neardedup.stream_band_collisions(docs, blocklist=bl_32)

    # the guard must survive the production flow — blocklist landed to
    # storage and re-read on a refresh cadence (ADVICE r11: a Python
    # attribute dies here; the literal config COLUMNS do not)
    bl_path = str(tmp_path / "blocklist")
    bl_32.write.mode("overwrite").parquet(bl_path)
    bl_rt = spark.read.parquet(bl_path)
    with pytest.raises(ValueError, match="band config"):
        neardedup.stream_band_collisions(docs, blocklist=bl_rt)

    # and a frame WITHOUT the config columns (hand-built key list) is
    # rejected up front rather than trusted blindly
    with pytest.raises(ValueError, match="band-config columns"):
        neardedup.stream_band_collisions(
            docs, blocklist=bl_rt.select("band_idx", "band_hash")
        )

    schema = docs.schema
    cand = run_stream_to_batch(
        spark,
        src,
        lambda s: neardedup.stream_band_collisions(s, blocklist=bl),
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
