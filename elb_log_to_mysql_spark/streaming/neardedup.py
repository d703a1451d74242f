"""Streaming MinHash-LSH near-duplicate candidate generation.

The batch near-dedup (operators/dedup.py:near_dedup_minhash) finds
candidate pairs with a self-join on (band_idx, band_hash); on a
continuous ingest stream the same self-join runs as a symmetric
stream-stream join (`stream_band_collisions`): each side's band rows
stay in the state store, and a new document whose band key matches a
remembered one emits a candidate pair. Both paths build their band
rows with the same MinHash chain (dedup.shingle_sets → band_rows, one
mapInPandas signer planned as its own physical operator upstream of
the stateful join), so stream and batch band keys are BIT-IDENTICAL
and the stream-vs-batch candidate-set equivalence test derives its
batch twin from the same functions (tests pin this).

Design split — candidates stream, verification is a join:
the stream ships (doc_id, band_idx, band_hash) rows only (three
longs; shingle sets stay OUT of the shuffle and the state store,
exactly like the batch path keeps them out of the band self-join).
Emitted candidates are verified with exact Jaccard by joining the
shingle sets back from the corpus store — in production a batch
verifier over the landed table, here the batch operator's own
`dedup.verify_pairs`. Precision therefore stays STRUCTURAL (every
reported pair is exact-verified); recall is the LSH S-curve, same
contract as `near_dedup`.

State and its bounds: join state is O(band rows) — `dedup.BANDS` rows
of three longs per document, in RocksDB under the engine default
(session.py ROCKSDB_STATE_STORE; the in-heap provider stops fitting
long before the data does). What bounds it, and how that differs
from a stateful per-bucket operator:
- skew guard: the STATIC `hot_bucket_blocklist` (a batch-computed
  set of over-full band keys, anti-joined before the join), not an
  in-state per-bucket occupancy cap;
- horizon: the event-time watermark (`event_time` + `horizon`; Spark
  evicts band rows older than the watermark), not a processing-time
  idle timeout. Without `event_time` state grows with the corpus —
  the batch operator's unbounded history, and the bounded gate run's
  pure-function property;
- redelivery: a redelivered document re-emits its candidates (the
  join keeps no per-document memory); `verify_candidate_pairs`'
  `dropDuplicates` restores set semantics, as it does for the same
  pair surfacing from several bands.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from elb_log_to_mysql_spark.operators.dedup import (
    BANDS,
    NUM_HASHES,
    SHINGLE_N,
    band_rows,
    hot_buckets,
    shingle_sets,
    verify_pairs,
)
from elb_log_to_mysql_spark.session import unpersist_on_gc

_CFG_COLS = ("_cfg_shingle_n", "_cfg_num_hashes", "_cfg_bands")
_CFG = (SHINGLE_N, NUM_HASHES, BANDS)


def hot_bucket_blocklist(
    documents,
    max_bucket: int = 1000,
) -> DataFrame:
    """(band_idx, band_hash) keys whose occupancy exceeds
    `max_bucket` over a reference corpus — the static skew guard for
    `stream_band_collisions`, which (being a plain symmetric join)
    would otherwise pair a degenerate bucket quadratically.

    Computed batch-side with the same band_rows pipeline (one shuffle
    on the band key), so the stream and the blocklist agree on bucket
    identity bit-for-bit. Hot buckets are rare by construction (they
    are the pathology), so the result broadcasts: the stream-side
    anti-join costs no shuffle. Production refreshes it on a cadence
    from the landed corpus, so the guard follows occupancy as of the
    last refresh, not as of the current arrival. Spam clusters large
    enough to trip it are near-duplicates of each other by definition;
    route them to the batch dedup (which caps per-bucket work) rather
    than the incremental stream."""
    banded = band_rows(shingle_sets(documents))
    # Band keys are opaque hashes: a blocklist built under different
    # band parameters would anti-join NOTHING and silently disable the
    # skew guard. The band config rides IN the frame as literal
    # columns — unlike a Python attribute, they survive DataFrame
    # transformations and the write-to-storage / refresh-on-a-cadence
    # round trip that production does, so the stream can always verify
    # the configs agree (ADVICE r11).
    return hot_buckets(banded, max_bucket).select(
        "band_idx",
        "band_hash",
        *[F.lit(v).alias(c) for c, v in zip(_CFG_COLS, _CFG)],
    )


def stream_band_collisions(
    documents,
    event_time: str | None = None,
    horizon: str = "24 hours",
    blocklist: DataFrame | None = None,
) -> DataFrame:
    """Streaming LSH candidate pairs over a documents stream: a
    symmetric stream-stream SELF-JOIN on (band_idx, band_hash).

    Returns an append-mode stream of (doc_id_a, doc_id_b) candidate
    pairs (doc_id_a < doc_id_b). Spark's stream-stream inner join keeps
    each side's band rows in the state store and probes the opposite
    side's state per micro-batch — the "new arrival pairs against
    remembered occupants" recurrence, executed entirely in the JVM
    with zero Python crossings in the stateful path. A pair surfaces
    once per shared band; downstream `dropDuplicates` (the verifier
    applies it anyway) restores set semantics, so the candidate SET
    equals the batch band self-join's.

    `blocklist` (from `hot_bucket_blocklist`) is broadcast-anti-joined
    before the stateful join — the static skew guard. `event_time` (an
    ingest-timestamp column) plus `horizon` watermark both join sides
    and add a |t_a - t_b| <= horizon range condition: documents pair
    only inside the horizon and Spark evicts band-row state older than
    the watermark, which is how a continuous ingest bounds this join.
    The module docstring states what these bounds do not do.
    """
    carry = (event_time,) if event_time else ()
    banded = band_rows(shingle_sets(documents, carry))
    if blocklist is not None:
        if not set(_CFG_COLS) <= set(blocklist.columns):
            raise ValueError(
                "blocklist lacks the band-config columns "
                f"{_CFG_COLS} — build it with hot_bucket_blocklist (or a "
                "round trip of its output), which embeds the band "
                "parameters so a mismatched blocklist fails loudly "
                "instead of anti-joining nothing"
            )
        # The config columns are literals (one distinct value); a
        # limit(1) on the broadcast-small blocklist is a cheap batch
        # action at plan-build time. An EMPTY blocklist carries no
        # config to check — and also guards nothing, so any mismatch
        # is harmless by construction.
        head = blocklist.select(*_CFG_COLS).limit(1).collect()
        if head:
            cfg = tuple(head[0])
            if cfg != _CFG:
                raise ValueError(
                    "blocklist was built with band config "
                    f"(shingle_n, num_hashes, bands)={cfg} but the stream "
                    f"uses {_CFG} — its opaque "
                    "band keys would never match and the skew guard would "
                    "silently no-op"
                )
        banded = banded.join(
            F.broadcast(blocklist.select("band_idx", "band_hash")),
            ["band_idx", "band_hash"],
            "left_anti",
        )
    if event_time is not None:
        banded = banded.withWatermark(event_time, horizon)
    left = banded.select(
        "band_idx",
        "band_hash",
        F.col("doc_id").alias("doc_id_a"),
        *([F.col(event_time).alias("_t_a")] if event_time else []),
    )
    right = banded.select(
        "band_idx",
        "band_hash",
        F.col("doc_id").alias("doc_id_b"),
        *([F.col(event_time).alias("_t_b")] if event_time else []),
    )
    if event_time is not None:
        joined = left.join(
            right,
            [
                left["band_idx"] == right["band_idx"],
                left["band_hash"] == right["band_hash"],
                F.col("_t_b") >= F.col("_t_a") - F.expr(f"INTERVAL {horizon}"),
                F.col("_t_b") <= F.col("_t_a") + F.expr(f"INTERVAL {horizon}"),
            ],
        )
    else:
        joined = left.join(right, ["band_idx", "band_hash"])
    return joined.filter(F.col("doc_id_a") < F.col("doc_id_b")).select(
        "doc_id_a", "doc_id_b"
    )


def verify_candidate_pairs(
    candidates: DataFrame,
    documents: DataFrame,
    threshold: float = 0.6,
) -> DataFrame:
    """Exact-Jaccard verification of streamed candidate pairs against
    the corpus store — the batch operator's own verification leg
    (dedup.verify_pairs), so precision is structural.

    The corpus is semi-joined down to docs that appear in a candidate
    pair BEFORE shingling (r16, guide §8: compute the heavy text
    derivation only for rows that need it): candidate docs are a
    small fraction of the corpus, and the former shape shingled the
    FULL corpus twice — once per join leg. Restriction changes
    nothing semantically (docs absent from every pair cannot
    contribute to an inner join), and the small restricted shingle
    frame is persisted so the two legs share one computation."""
    cand = candidates.dropDuplicates(["doc_id_a", "doc_id_b"])
    cand_ids = (
        cand.select(F.col("doc_id_a").alias("_cand_doc_id"))
        .union(cand.select(F.col("doc_id_b").alias("_cand_doc_id")))
        .distinct()
    )
    sh = shingle_sets(
        documents.join(cand_ids, F.col("doc_id") == F.col("_cand_doc_id"), "left_semi")
    ).persist()
    return unpersist_on_gc(verify_pairs(cand, sh, threshold), sh)
