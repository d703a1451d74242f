"""Streaming MinHash-LSH near-duplicate candidate generation.

The batch near-dedup (operators/dedup.py:near_dedup_minhash) finds
candidate pairs with a self-join on (band_idx, band_hash); on a
continuous ingest stream the same self-join runs as a symmetric
stream-stream join (`stream_band_collisions`): each side's band rows
stay in the state store, and a new document whose band key matches a
remembered one emits a candidate pair. Band-key derivation is the
identical column expression as the batch path (dedup.band_hashes),
and the signature kernel is the SAME Arrow-vectorized multiply-shift
minhash the batch operator uses (vectorops.minhash_matrix) — applied
per micro-batch via `mapInPandas`, which plans as its own physical
operator upstream of the stateful join, so stream and batch
signatures are BIT-IDENTICAL. `band_rows` builds the
(doc_id, band_idx, band_hash) stream and works on batch and streaming
frames alike, so the stream-vs-batch candidate-set equivalence test
derives its batch twin from the same function (tests pin this).

Design split — candidates stream, verification is a join:
the stream ships (doc_id, band_idx, band_hash) rows only (three
longs; shingle sets stay OUT of the shuffle and the state store,
exactly like the batch path keeps them out of the band self-join).
Emitted candidates are verified with exact Jaccard by joining the
shingle sets back from the corpus store — in production a batch
verifier over the landed table, here the same verification join the
batch operator uses. Precision therefore stays STRUCTURAL (every
reported pair is exact-verified); recall is the LSH S-curve, same
contract as `near_dedup`.

State and its bounds: join state is O(band rows) — `bands` rows of
three longs per document, in RocksDB under the engine default
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

from elb_log_to_mysql_spark.functions.vectorops import minhash_sig_rows
from elb_log_to_mysql_spark.operators.dedup import band_hashes, word_shingles


def band_rows(
    documents,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """(doc_id, band_idx, band_hash) LSH band rows for a documents
    frame — batch OR streaming (every node here is streamable).

    Shingling + shingle hashing + band hashing are JVM codegen
    expressions (shared with operators/dedup.py); the minhash
    signature is vectorops.minhash_sig_rows — the SAME mapInPandas
    signer instance the batch operator uses since round 12, so
    stream/batch signatures are bit-identical by construction (one
    numpy outer-product + segment-min per Arrow batch). mapInPandas
    is its own physical operator, so it plans cleanly upstream of the
    stateful join within one micro-batch.

    `carry_cols`: extra source columns (e.g. an ingest timestamp for
    watermarking) passed through the signer untouched and kept on
    every output band row."""
    rows_per_band = num_hashes // bands
    carry = list(carry_cols or [])
    sh = documents.select(
        F.col(id_col).alias("doc_id"),
        F.transform(
            word_shingles(text_col, shingle_n), lambda s: F.xxhash64(s)
        ).alias("shingles"),
        *[F.col(c) for c in carry],
    ).filter(F.size("shingles") > 0)

    # the engine-wide mapInPandas signer — one implementation shared
    # with the batch operator, so stream/batch signatures are
    # bit-identical by construction
    sig = minhash_sig_rows(sh, num_hashes, carry=tuple(carry))
    return sig.select(
        "doc_id",
        F.posexplode(band_hashes(F.col("sig"), bands, rows_per_band)).alias(
            "band_idx", "band_hash"
        ),
        *[F.col(c) for c in carry],
    )


def hot_bucket_blocklist(
    documents,
    max_bucket: int = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
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
    bl = (
        band_rows(
            documents,
            id_col=id_col,
            text_col=text_col,
            shingle_n=shingle_n,
            num_hashes=num_hashes,
            bands=bands,
        )
        .groupBy("band_idx", "band_hash")
        .agg(F.count(F.lit(1)).alias("occupancy"))
        .filter(F.col("occupancy") > max_bucket)
        # Band keys are opaque hashes: a blocklist built under
        # different band parameters would anti-join NOTHING and
        # silently disable the skew guard. The band config rides IN
        # the frame as literal columns — unlike a Python attribute,
        # they survive DataFrame transformations and the
        # write-to-storage / refresh-on-a-cadence round trip that
        # production does, so the stream can always verify the configs
        # agree (ADVICE r11).
        .select(
            "band_idx",
            "band_hash",
            F.lit(int(shingle_n)).alias("_cfg_shingle_n"),
            F.lit(int(num_hashes)).alias("_cfg_num_hashes"),
            F.lit(int(bands)).alias("_cfg_bands"),
        )
    )
    return bl


def stream_band_collisions(
    documents,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
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
    keep = [id_col, text_col] + ([event_time] if event_time else [])
    src = documents.select(*keep)
    banded = band_rows(
        src,
        id_col=id_col,
        text_col=text_col,
        shingle_n=shingle_n,
        num_hashes=num_hashes,
        bands=bands,
        carry_cols=[event_time] if event_time else None,
    )
    if blocklist is not None:
        cfg_cols = ("_cfg_shingle_n", "_cfg_num_hashes", "_cfg_bands")
        if not set(cfg_cols) <= set(blocklist.columns):
            raise ValueError(
                "blocklist lacks the band-config columns "
                f"{cfg_cols} — build it with hot_bucket_blocklist (or a "
                "round trip of its output), which embeds the band "
                "parameters so a mismatched blocklist fails loudly "
                "instead of anti-joining nothing"
            )
        # The config columns are literals (one distinct value); a
        # limit(1) on the broadcast-small blocklist is a cheap batch
        # action at plan-build time. An EMPTY blocklist carries no
        # config to check — and also guards nothing, so any mismatch
        # is harmless by construction.
        head = blocklist.select(*cfg_cols).limit(1).collect()
        if head:
            cfg = (head[0][0], head[0][1], head[0][2])
            if cfg != (shingle_n, num_hashes, bands):
                raise ValueError(
                    "blocklist was built with band config "
                    f"(shingle_n, num_hashes, bands)={cfg} but the stream "
                    f"uses {(shingle_n, num_hashes, bands)} — its opaque "
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
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """Exact-Jaccard verification of streamed candidate pairs against
    the corpus store — identical math to the batch operator's
    verification leg, so precision is structural.

    The corpus is semi-joined down to docs that appear in a candidate
    pair BEFORE shingling (r16, guide §8: compute the heavy text
    derivation only for rows that need it): candidate docs are a
    small fraction of the corpus, and the former shape shingled the
    FULL corpus twice — once per join leg. Restriction changes
    nothing semantically (docs absent from every pair cannot
    contribute to an inner join), and the small restricted shingle
    frame is persisted so the two legs share one computation."""
    from elb_log_to_mysql_spark.session import unpersist_on_gc

    cand = candidates.dropDuplicates(["doc_id_a", "doc_id_b"])
    cand_ids = (
        cand.select(F.col("doc_id_a").alias("_cand_doc_id"))
        .union(cand.select(F.col("doc_id_b").alias("_cand_doc_id")))
        .distinct()
    )
    sh = (
        documents.join(
            cand_ids, F.col(id_col) == F.col("_cand_doc_id"), "left_semi"
        )
        .select(
            F.col(id_col).alias("doc_id"),
            F.transform(
                word_shingles(text_col, shingle_n), lambda s: F.xxhash64(s)
            ).alias("shingles"),
        )
        .filter(F.size("shingles") > 0)
        .persist()  # feeds both join legs — shingle candidate docs once
    )
    joined = cand.join(
        sh.select(F.col("doc_id").alias("doc_id_a"), F.col("shingles").alias("sh_a")),
        "doc_id_a",
    ).join(
        sh.select(F.col("doc_id").alias("doc_id_b"), F.col("shingles").alias("sh_b")),
        "doc_id_b",
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    out = (
        joined.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_id_a", "doc_id_b", "jaccard")
    )
    return unpersist_on_gc(out, sh)
