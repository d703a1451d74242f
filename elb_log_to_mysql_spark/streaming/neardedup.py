"""Streaming MinHash-LSH near-duplicate candidate generation.

The batch near-dedup (operators/dedup.py:near_dedup_minhash) finds
candidate pairs with a self-join on (band_idx, band_hash); on a
continuous ingest stream the same bucket keys become STATE: each LSH
bucket remembers the doc ids it has seen, and a new document that
lands in a non-empty bucket emits a candidate pair against every
remembered occupant. Band-key derivation is the identical column
expression as the batch path (dedup.band_hashes), and the signature
kernel is the SAME Arrow-vectorized multiply-shift minhash the batch
operator uses (vectorops.minhash_matrix) — applied per micro-batch
via `mapInPandas`, which plans as its own physical operator and is
therefore legal upstream of applyInPandasWithState. (A *scalar*
pandas UDF is not: Spark plans it into the stateful operator's child
Project, where it cannot evaluate — verified empirically in round 9;
round 11 replaced the interpreted 64-pass JVM-HOF workaround with
the mapInPandas signer, eliminating the stream path's dominant
per-row cost and making stream and batch signatures BIT-IDENTICAL.)
`band_rows` builds the (doc_id, band_idx, band_hash) stream and
works on batch and streaming frames alike, so the stream-vs-batch
candidate-set equivalence test derives its batch twin from the same
function (tests pin this).

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

State layout: one state row per SHARD of buckets (`pmod` of the
bucket key's xxhash64; see `stream_band_collisions`), each row
holding every occupied bucket of its shard with its occupants and
last-touch time. State size: O(occupied buckets × bucket occupancy),
bounded two ways: `max_per_bucket` — a degenerate bucket (spam
cluster) stops accumulating state and stops emitting pairs beyond the
cap, the streaming twin of the batch `max_bucket` skew guard — and
`idle_timeout_ms` — a bucket untouched for that long is pruned before
its shard's next arrivals pair (the dedup HORIZON: a new document no
longer pairs against occupants older than the horizon), and a shard
untouched for that long is evicted from the state store by the
processing-time timeout. Without a timeout, state is a pure function
of the input and the gate checks it bit-for-bit; production
continuous ingest always sets one.

State-store provider: state grows with the number of occupied
buckets — O(corpus) (16 per doc) — so the default in-heap
HDFSBacked provider stops fitting long before the data does
(measured: 1.6M buckets OOM an 8 GiB local JVM at the 20x probe
scale). Set `spark.sql.streaming.stateStore.providerClass` to
RocksDBStateStoreProvider for any real corpus — state then lives
off-heap/on-disk and the probe exercises exactly that configuration
(tools/scale_probe_newops.py).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

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
    is its own physical operator, so unlike a scalar pandas UDF it
    plans cleanly upstream of applyInPandasWithState within one
    micro-batch.

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

# Sharded state layout (r16): one state row per SHARD of buckets —
# parallel arrays keyed positionally, bucket i spanning
# doc_ids_flat[offset_i : offset_i + counts[i]] with
# offset_i = sum(counts[:i]). last_touch_ms powers the per-bucket
# idle horizon (pruned lazily at shard touch; the shard-level
# GroupStateTimeout reclaims fully idle shards).
SHARD_STATE_SCHEMA = T.StructType(
    [
        T.StructField("band_idxs", T.ArrayType(T.IntegerType())),
        T.StructField("band_hashes", T.ArrayType(T.LongType())),
        T.StructField("counts", T.ArrayType(T.IntegerType())),
        T.StructField("doc_ids_flat", T.ArrayType(T.LongType())),
        T.StructField("last_touch_ms", T.ArrayType(T.LongType())),
    ]
)

PAIR_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id_a", T.LongType()),
        T.StructField("doc_id_b", T.LongType()),
    ]
)


def make_shard_update_fn(
    max_per_bucket: int = 1000, idle_timeout_ms: int | None = None
):
    """Shard state update: state is keyed on a SHARD of LSH buckets,
    so a micro-batch pays one Python callback + state
    (de)serialization per shard (64 per core) rather than per bucket
    (~O(corpus) — at sf0.1, 76.5k groups each paying the boundary
    crossing was the stream leg's dominant cost). Bucket identity
    stays the exact (band_idx, band_hash) pair, carried as DATA
    columns. Per bucket, each new arrival (in doc_id order over the
    whole micro-batch) emits (smaller_id, larger_id) against every
    remembered occupant and is then remembered; a redelivered doc_id
    emits nothing (exactly-once), and a bucket holding
    `max_per_bucket` occupants stops pairing (skew guard).

    Idle horizon is per BUCKET: each bucket's last-touch processing
    time is stored in state, and any bucket idle longer than
    `idle_timeout_ms` is pruned at the next shard invocation BEFORE
    arrivals are processed — a re-arrival therefore starts a fresh
    bucket and never pairs against occupants older than the horizon
    (the bytes linger until the shard is next touched; the
    shard-level timeout reclaims fully idle shards)."""

    def _update(
        key: tuple,
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        buckets: dict[tuple[int, int], list[int]] = {}
        touched: dict[tuple[int, int], int] = {}
        if state.exists:
            band_idxs, band_hashes, counts, flat, touch = state.get
            pos = 0
            for bi, bh, n, t in zip(band_idxs, band_hashes, counts, touch):
                bkey = (int(bi), int(bh))
                buckets[bkey] = [int(d) for d in flat[pos : pos + n]]
                touched[bkey] = int(t)
                pos += n
        # without a timeout, pin the touch stamp to 0 so state stays a
        # pure function of the input (the bit-for-bit gate property)
        now_ms = (
            state.getCurrentProcessingTimeMs()
            if idle_timeout_ms is not None
            else 0
        )
        if idle_timeout_ms is not None:
            # per-bucket horizon: forget buckets idle past the horizon
            # BEFORE pairing, so stale occupants never pair
            dead = [
                k for k, t in touched.items() if now_ms - t > idle_timeout_ms
            ]
            for k in dead:
                del buckets[k]
                del touched[k]
        out_a: list[int] = []
        out_b: list[int] = []
        # concat once: per-bucket doc order is then global doc_id order
        # within the micro-batch — a pure function of the input corpus,
        # independent of Arrow chunking
        pdfs = [p for p in batches if len(p)]
        if pdfs:
            rows = pd.concat(pdfs) if len(pdfs) > 1 else pdfs[0]
            rows = rows.sort_values("doc_id")
            for (bi, bh), g in rows.groupby(
                ["band_idx", "band_hash"], sort=False
            ):
                bkey = (int(bi), int(bh))
                seen = buckets.get(bkey)
                if seen is None:
                    seen = buckets[bkey] = []
                touched[bkey] = now_ms
                seen_set = set(seen)
                for doc_id in g["doc_id"]:
                    doc_id = int(doc_id)
                    if doc_id in seen_set:
                        continue  # redelivered input: exactly-once emission
                    if len(seen) >= max_per_bucket:
                        break  # skew guard: degenerate bucket stops pairing
                    for other in seen:
                        lo, hi = (
                            (other, doc_id) if other < doc_id else (doc_id, other)
                        )
                        out_a.append(lo)
                        out_b.append(hi)
                    seen.append(doc_id)
                    seen_set.add(doc_id)
        state.update(
            (
                [k[0] for k in buckets],
                [k[1] for k in buckets],
                [len(v) for v in buckets.values()],
                [d for v in buckets.values() for d in v],
                [touched[k] for k in buckets],
            )
        )
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)
        if out_a:
            yield pd.DataFrame({"doc_id_a": out_a, "doc_id_b": out_b})

    return _update


def stream_band_collisions(
    documents,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    max_per_bucket: int = 1000,
    idle_timeout_ms: int | None = None,
) -> DataFrame:
    """Streaming LSH candidate pairs over a documents stream.

    Returns an append-mode stream of (doc_id_a, doc_id_b) candidate
    pairs (doc_id_a < doc_id_b; the same pair may surface from
    several bands — dedupe downstream, where the verifier joins the
    shingle sets anyway). `idle_timeout_ms` bounds bucket state to
    the dedup horizon (see module docstring).

    State is sharded: the stateful operator groups on
    `pmod(xxhash64(band_idx, band_hash), shards)` and each state row
    holds ALL of its shard's buckets, so a micro-batch pays O(shards)
    Python callbacks instead of O(buckets) — the boundary-crossing
    cost, measured dominant at 76.5k bucket groups. Pair emission,
    skew cap and per-bucket idle horizon are described at
    `make_shard_update_fn`. The shard count follows the cluster,
    64 x defaultParallelism: enough shards that state rows stay small
    and every state partition has work, while the per-callback
    overhead is amortized over many buckets (~300 per shard for
    sf0.1's 76.5k bucket groups on 4 cores)."""
    banded = band_rows(
        documents,
        id_col=id_col,
        text_col=text_col,
        shingle_n=shingle_n,
        num_hashes=num_hashes,
        bands=bands,
    )
    parallelism = documents.sparkSession.sparkContext.defaultParallelism
    shards = 64 * parallelism
    sharded = banded.withColumn(
        "_shard", F.pmod(F.xxhash64("band_idx", "band_hash"), F.lit(shards))
    )
    return sharded.groupBy("_shard").applyInPandasWithState(
        make_shard_update_fn(max_per_bucket, idle_timeout_ms),
        outputStructType=PAIR_OUTPUT_SCHEMA,
        stateStructType=SHARD_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.NoTimeout
            if idle_timeout_ms is None
            else GroupStateTimeout.ProcessingTimeTimeout
        ),
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
    `stream_band_collisions_join`, which (being a plain symmetric
    join) would otherwise pair a degenerate bucket quadratically.

    Computed batch-side with the same band_rows pipeline (one shuffle
    on the band key), so the stream and the blocklist agree on bucket
    identity bit-for-bit. Hot buckets are rare by construction (they
    are the pathology), so the result broadcasts: the stream-side
    anti-join costs no shuffle. Production refreshes it on a cadence
    from the landed corpus — the batch twin of the stateful variant's
    in-state max_per_bucket cap. Spam clusters large enough to trip it
    are near-duplicates of each other by definition; route them to the
    batch dedup (which caps per-bucket work) rather than the
    incremental stream."""
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
        # production does, so the join variant can always verify the
        # configs agree (ADVICE r11).
        .select(
            "band_idx",
            "band_hash",
            F.lit(int(shingle_n)).alias("_cfg_shingle_n"),
            F.lit(int(num_hashes)).alias("_cfg_num_hashes"),
            F.lit(int(bands)).alias("_cfg_bands"),
        )
    )
    return bl


def stream_band_collisions_join(
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
    """JVM-only streaming LSH candidate pairs: a symmetric
    stream-stream SELF-JOIN on (band_idx, band_hash) instead of the
    sharded Python stateful operator.

    Spark's stream-stream inner join keeps each side's arrivals in
    the state store (RocksDB under the engine default) and probes the
    opposite side's state per micro-batch — exactly the "new arrival
    pairs against remembered occupants" recurrence, executed entirely
    in the JVM: zero Python crossings in the stateful path, which is
    what makes it the SCALE variant (the applyInPandasWithState
    operator pays ~1 ms of Python per state group per batch; at 1.6M
    buckets that is the whole wall — measured 95 s vs the batch
    twin's 18 s at the 20x probe).

    Trade-offs vs `stream_band_collisions` (kept as the
    semantics-rich variant): the join emits a pair once per shared
    band PER DIRECTION-match rather than exactly once (downstream
    dropDuplicates — which the verifier applies anyway — restores set
    semantics; the candidate SET is identical), the skew guard is the
    STATIC `blocklist` (a (band_idx, band_hash) frame from
    `hot_bucket_blocklist`, broadcast-anti-joined before the stateful
    join — a degenerate bucket would otherwise pair quadratically)
    rather than the stateful variant's in-state cap, and
    state eviction is by WATERMARK policy rather than idle timeout:
    pass `event_time` (an ingest-timestamp column) and `horizon` and
    both join sides are watermarked with a |t_a - t_b| <= horizon
    range condition — Spark then evicts band-row state older than the
    horizon, the streaming twin of the stateful variant's
    idle_timeout_ms dedup horizon, and exactly how a continuous
    100 TB ingest bounds this join. Without `event_time`, inner-join
    state grows with the corpus — the same contract as the batch
    operator's unbounded history, and the bounded gate run's
    pure-function property.
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
